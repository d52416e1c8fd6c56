package graftbench

import scala.collection.mutable

import graft.{QueryDef, SparkEntry, Tables}
import graft.functions.{TextFns, VectorFns}
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `analytics_mix`: a fixed list of oracle-backed queries at sf0.1, in a
  * fixed order, each built by `QueryDef.fn`, planned and executed to a
  * collected result, with the cache cleared before each. An untimed pass at
  * sf0.01 first warms the JIT and Spark's code-generation cache on the same
  * plan shapes (Bench's warm-then-time protocol at a tenth of the cost) and
  * gives the sf0.01 results that queries with a slow oracle are checked on.
  * The tables are fixed, so the seed changes nothing here. */
final class AnalyticsMix(ctx: Ctx) extends Workload {
  import AnalyticsMix._
  private val dir = ctx.arg("mix")
  private val smallDir = ctx.arg("mix_small")
  private def spark: SparkSession = ctx.spark
  private val byName: Map[String, QueryDef] = SparkEntry.allDefs.map(q => q.name -> q).toMap

  def session(): SparkSession = ctx.newSession()

  def load(): Unit = Tables.names.foreach(t => Tables.load(spark, dir, t).count())

  /** Bench's warmup: the table scans of `load`. */
  def warmup(): Unit = ()

  /** Build, plan and execute one query; the collected rows and schema. */
  private def runQuery(q: QueryDef, d: String): (Array[Row], org.apache.spark.sql.types.StructType) = {
    val df: DataFrame = ctx.spanned("query.construct", Map("query" -> q.name))(q.fn(spark, d))
    ctx.spanned("query.plan", Map("query" -> q.name))(df.queryExecution.executedPlan)
    val rows = ctx.spanned("query.execute", Map("query" -> q.name))(df.collect())
    (rows, df.schema)
  }

  private def save(name: String, rows: Array[Row], schema: org.apache.spark.sql.types.StructType): String = {
    val path = s"${ctx.work}/out/$name"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(path)
    path
  }

  private val small = mutable.LinkedHashMap.empty[String, String]

  override def warmPass(): Unit = Mix.flatMap(byName.get).foreach { q =>
    spark.catalog.clearCache()
    try {
      val (rows, schema) = runQuery(q, smallDir)
      if (SmallChecked.contains(q.name)) small(q.name) = save(s"${q.name}@small", rows, schema)
    } catch { case e: Exception => System.err.println(s"[perfbench] warm pass: ${q.name} failed: $e") }
  }

  def measure(): Unit = {
    val outputs = mutable.LinkedHashMap.empty[String, String]
    val t0 = Clock.now()
    var round = 0
    do {
      round += 1
      Mix.foreach { name =>
        spark.catalog.clearCache()
        System.gc()
        ctx.timed(name, Map("query" -> name)) {
          val q = byName.getOrElse(name, throw new NoSuchElementException(s"$name is not in SparkEntry.allDefs"))
          runQuery(q, dir)
        }.foreach { case (rows, schema) =>
          if (!outputs.contains(name)) outputs(name) = save(name, rows, schema)
        }
      }
    } while (Clock.now() - t0 < ctx.seconds * 1e3)

    ctx.check("outputs") = outputs.toMap
    ctx.check("outputs_small") = small.toMap
    ctx.check("oracles") = Mix.flatMap(n => byName.get(n).flatMap(_.oracle).map(n -> _)).toMap
    ctx.check("small_checked") = SmallChecked

    val perQuery = Mix.flatMap { n =>
      val ms = ctx.ops.filter(o => o.name == n && o.error.isEmpty).map(_.ms).toSeq
      if (ms.isEmpty) None else Some(n -> Stats.median(ms) / 1e3)
    }.toMap
    ctx.metrics("analytics.pass_s") = perQuery.values.sum
    ctx.metrics("analytics.geomean_s") =
      math.exp(perQuery.values.map(math.log).sum / math.max(perQuery.size, 1))
    ctx.metrics("analytics.rounds") = round

    if (ctx.traced) {
      // time inside QueryDef.fn, eager jobs included, summed over one pass
      ctx.layer("operators.construct_ms") = ctx.tracer.all
        .filter(s => s.name == "query.construct" && s.start >= t0)
        .groupBy(_.attrs("query").toString).values.map(v => v.head.end - v.head.start).sum
      Modules.foreach { case (m, defs) =>
        ctx.layer(s"operators.$m.s") = defs.map(_.name).flatMap(perQuery.get).sum
      }
      Mix.foreach(n => ctx.layer(s"query.${short(n)}.s") = perQuery.getOrElse(n, 0.0))
    }
  }

  /** Each custom expression alone over its sf0.1 column, the column
    * repeated to `FnRows` rows. */
  override def layers(): Unit = {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"text")
    val embs = Tables.embeddings(s, dir).select($"embedding")
    val planes = VectorFns.hyperplanes(16, 64)
    val probe = Tables.embeddings(s, dir).select($"embedding").head().getSeq[Float](0)
    val fns: Seq[(String, DataFrame, org.apache.spark.sql.Column)] = Seq(
      ("poly_hash", docs, TextFns.polyHash($"text")),
      ("simhash64", docs, TextFns.simhash64(TextFns.tokens($"text"))),
      ("shingle_hashes", docs, size(TextFns.shingleHashes(TextFns.tokens($"text"))).cast("long")),
      ("cdc_boundaries", docs, size(TextFns.cdcBoundaries($"text")).cast("long")),
      ("cosine_milli", embs, VectorFns.cosineMilli($"embedding", typedLit(probe.toArray)).cast("long")),
      ("sign_lsh_bucket", embs, VectorFns.signLshBucket($"embedding", planes).cast("long")))
    fns.foreach { case (name, src, expr) =>
      val n = src.count()
      val reps = math.max(1L, FnRows / n)
      val input = src.crossJoin(s.range(reps).hint("broadcast")).drop("id").cache()
      val rows = input.count()
      def once(): Double = {
        val t = System.nanoTime()
        input.select(bit_xor(xxhash64(expr))).collect()
        (System.nanoTime() - t) / 1e9
      }
      ctx.spanned("functions.eval", Map("fn" -> name)) { once() }
      val sec = Stats.median(Seq.fill(3)(once()))
      ctx.layer(s"functions.$name.rows_per_s") = rows / sec
      input.unpersist(): Unit
    }
  }
}

object AnalyticsMix {
  /** The mix, by name. A name missing from SparkEntry.allDefs is a failed
    * operation in every round, never a shorter pass. */
  val Mix: Seq[String] = Seq(
    // iterative graph kernel with a size-gated local fold (event module)
    "q55_bfs_levels",
    // OpCache slots: postings (similarity), admitted docs (text), array
    // base (extra_relational)
    "s21_hybrid_rrf_indexed", "t38_ingest_packed", "q37_array_functions",
    // SimHash signatures banded into a self-join (dedup)
    "d04_dedup_simhash",
    // cosine clustering joined across languages (similarity)
    "d19_crosslingual_mirrors",
    // bucketed co-located join (layout)
    "q51_bucketed_colocated_join",
    // short queries where fixed per-query overhead dominates
    "r05_dsl_fsm_stateful", "q12_topk_global", "m01_media_metadata", "q57_lateral_topk")

  /** Queries whose DuckDB oracle does not finish at sf0.1. */
  val SmallChecked: Seq[String] = Seq(
    "d03_dedup_minhash_lsh", "d13_dedup_jaccard_prefixfilter", "t38_ingest_packed")
      .filter(Mix.contains)

  val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> RelationalQueries.all, "extra_relational" -> ExtraRelationalQueries.all,
    "event" -> EventQueries.all, "dedup" -> DedupQueries.all,
    "similarity" -> SimilarityQueries.all, "text" -> TextQueries.all,
    "multimodal" -> Multimodal.all, "dsl" -> DslQueries.all,
    "layout" -> LayoutQueries.all, "sql_surface" -> SqlSurfaceQueries.all)

  /** Rows each custom expression is evaluated over. */
  val FnRows = 20_000L

  def short(name: String): String = name.takeWhile(_ != '_')
}

/** Prints the mix's oracle SQL as JSON, so `run.py` can fill the oracle
  * cache before any analytics run. Needs no Spark session. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val byName = SparkEntry.allDefs.map(q => q.name -> q).toMap
    val sql = AnalyticsMix.Mix.flatMap(n => byName.get(n).flatMap(_.oracle).map(n -> _)).toMap
    print(Json.write(Map("oracles" -> sql, "small_checked" -> AnalyticsMix.SmallChecked)))
  }
}
