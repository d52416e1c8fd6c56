package graftbench

import scala.collection.mutable

import graft.dsl.{Compiler, Interpreter, Keyed, SP}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The rspl `load.rs` term and the r05 toggle machine, as DSL terms. Kept
  * in an object so Spark closures capture no harness state. */
object Terms {
  /** Keys of the keyed load input; each key is one rspl machine. */
  val Keys = 1000L

  def fact(x: Long): Long = (1L to x).product max 1L

  private val factCase: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    v => (0L to 9L).foldLeft(lit(-1L))((acc, k) => when(v === k, lit(fact(k))).otherwise(acc))

  /** filter(even), then map(factorial), then map(+1), with Column
    * witnesses: the expression path. */
  val loadExpr: SP[Long, Long] = SP.compose(
    SP.compose(SP.filterExpr[Long](_ % 2 == 0, v => v % 2 === 0),
      SP.mapExpr[Long, Long](fact, factCase)),
    SP.mapExpr[Long, Long](_ + 1, v => v + 1))

  /** The same pipeline with opaque lambdas: the typed-fusion path. */
  val loadTyped: SP[Long, Long] = SP.compose(
    SP.compose(SP.filter[Long](_ % 2 == 0), SP.map[Long, Long](fact)),
    SP.map[Long, Long](_ + 1))

  /** The same term as a Get/Put loop: no stateless stages, so it compiles
    * to the per-key interpreter. */
  def loadLoop: SP[Long, Long] =
    SP.get[Long, Long](x => if (x % 2 == 0) SP.put(fact(x) + 1, loadLoop) else loadLoop)

  /** Keyed load input: element i goes to key i % Keys; values vary within a
    * key. */
  def loadValue(i: Long, off: Long): Long = (i + i / Keys + off) % 10

  /** r05: a signup toggles the machine; a purchase while toggled on emits
    * (event_id, value in cents). */
  def toggle(active: Boolean): SP[(String, Double, Long), (Long, Long)] = SP.fsm(active)(toggleStep)

  def toggleStep(st: Boolean, e: (String, Double, Long)): (Boolean, Seq[(Long, Long)]) = e match {
    case ("signup", _, _) => (!st, Nil)
    case ("purchase", v, id) if st => (st, Seq((id, math.floor(v * 100).toLong)))
    case _ => (st, Nil)
  }
}

/** `dsl_paths`: the load term through the expression, typed-fusion and
  * per-key interpreter paths, the toggle machine through the interpreter
  * path over keyed events with one hot key, and the same machine over a
  * stream replay on the state store ([[StreamReplay]]). */
final class DslPaths(ctx: Ctx) extends Workload {
  import DslPaths._
  private val off = ctx.seed % 10
  private val fsmPath = ctx.arg("fsm_events")
  private var fsmRows = 0L
  private val stream = new StreamReplay(ctx)
  private def spark: SparkSession = ctx.spark

  def session(): SparkSession = ctx.newSession(stream.conf)

  def load(): Unit = {
    fsmRows = spark.read.parquet(fsmPath).count()
    stream.load()
  }

  def warmup(): Unit = {
    Paths.foreach(p => runPath(p, Warm))
    stream.start()
  }

  override def release(): Unit = stream.stop()

  /** Elements one operation of each path consumes. */
  private def volume(path: String, scale: Long): Long = path match {
    case "expr" => ExprN / scale
    case "typed" => TypedN / scale
    case "interp" => InterpN / scale
    case "fsm" => fsmRows / scale
  }

  /** Compile the path's term onto its input and plan it (the `dsl.compile`
    * span), then execute it to a collected result (`dsl.execute`). */
  private def runPath(path: String, scale: Long): Array[Row] = {
    val s = spark
    import s.implicits._
    val n = volume(path, scale)
    val df: DataFrame = ctx.spanned("dsl.compile", Map("path" -> path)) {
      val d = path match {
        case "expr" =>
          val src = s.range(n).select(((col("id") + off) % 10).as("value"))
          Compiler.compileExpr(Terms.loadExpr, src, "value").get
            .agg(count(lit(1)).as("n"), sum($"value").as("sum"))
        case "typed" =>
          val o = off
          val src = s.range(n).as[Long].map(i => Keyed(i % Terms.Keys, i, (i + o) % 10))
          Compiler.compile(Terms.loadTyped)(src).toDF()
            .agg(count(lit(1)).as("n"), sum($"value").as("sum"))
        case "interp" =>
          val o = off
          val src = s.range(n).as[Long].map(i => Keyed(i % Terms.Keys, i, Terms.loadValue(i, o)))
          Compiler.compile(Terms.loadLoop)(src).toDF()
            .groupBy($"key").agg(count(lit(1)).as("n"), sum($"value").as("sum"),
              max($"seq").as("max_seq"), sum($"seq").as("sum_seq"))
        case "fsm" =>
          val events = s.read.parquet(fsmPath)
          val src: Dataset[Keyed[(String, Double, Long)]] = (if (scale > 1) events.limit(n.toInt) else events)
            .select($"key", $"seq", $"event_type", $"value").as[(Long, Long, String, Double)]
            .map { case (k, q, t, v) => Keyed(k, q, (t, v, q)) }
          Compiler.compile(Terms.toggle(false))(src).toDF()
            .select($"key", $"seq", $"value._1".as("event_id"), $"value._2".as("value_c"))
      }
      d.queryExecution.executedPlan
      d
    }
    ctx.spanned("dsl.execute", Map("path" -> path))(df.collect())
  }

  /** One round at full volume: the first rounds after the 1/20 warmup still
    * run up to twice as slow while the JIT settles. */
  override def warmPass(): Unit = Paths.foreach(p => runPath(p, 1))

  /** Whole rounds of the four paths, at least `MinRounds` and at least the
    * run's seconds, then the stream replay. */
  def measure(): Unit = {
    val t0 = Clock.now()
    val results = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Seq[Any]]]
    val perPath = mutable.Map.empty[String, Counts]
    var rounds = 0
    while (rounds < MinRounds || Clock.now() - t0 < ctx.seconds * 1e3) {
      rounds += 1
      Paths.foreach { p =>
        val before = ctx.probe.map { pr => pr.resetMaxTask(); pr.snapshot() }
        ctx.timed(s"dsl.$p", Map("path" -> p))(runPath(p, 1)).foreach { rows =>
          val got: Seq[Any] = p match {
            case "interp" => rows.toSeq.map(r => (0 until 5).map(r.getLong))
            case "fsm" =>
              if (!ctx.check.contains("fsm_out") && rows.nonEmpty) {
                val path = s"${ctx.work}/out/fsm"
                spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
                  .coalesce(1).write.parquet(path)
                ctx.check("fsm_out") = path
              }
              Seq(rows.length)
            case _ => Seq(rows(0).getLong(0), rows(0).getLong(1))
          }
          results.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += got
        }
        for (pr <- ctx.probe; b <- before) {
          val d = pr.snapshot().minus(b)
          perPath(p) = perPath.get(p).fold(d)(_.plus(d))
        }
      }
    }
    stream.replay()

    ctx.check("offset") = off
    ctx.check("keys") = Terms.Keys
    ctx.check("volumes") = Paths.map(p => p -> volume(p, 1)).toMap
    ctx.check("results") = results.map { case (k, v) => k -> v.toSeq }.toMap
    Paths.foreach { p =>
      val ms = ctx.ops.filter(o => o.name == s"dsl.$p" && o.error.isEmpty).map(_.ms).toSeq
      if (ms.nonEmpty) ctx.metrics(s"dsl.$p.elems_per_s") = volume(p, 1) / (Stats.median(ms) / 1e3)
    }
    if (ctx.traced) {
      val compile = ctx.tracer.all.filter(s => s.name == "dsl.compile" && s.start >= t0)
      Paths.foreach { p =>
        val reps = ctx.ops.count(_.name == s"dsl.$p").max(1)
        val c = perPath.getOrElse(p, Counts())
        ctx.layer(s"dsl.$p.elems_per_s") = ctx.metrics.get(s"dsl.$p.elems_per_s").fold(0.0)(_.asInstanceOf[Double])
        ctx.layer(s"dsl.$p.compile_ms") =
          Stats.median(compile.filter(_.attrs.get("path").contains(p)).map(s => s.end - s.start))
        ctx.layer(s"dsl.$p.task_s") = c.taskMs / 1e3 / reps
        ctx.layer(s"dsl.$p.gc_s") = c.gcMs / 1e3 / reps
        ctx.layer(s"dsl.$p.tasks") = c.tasks.toDouble / reps
        if (p == "interp" || p == "fsm") {
          ctx.layer(s"dsl.$p.shuffle_write_bytes") = c.shuffleWrite.toDouble / reps
          ctx.layer(s"dsl.$p.spill_bytes") = c.spill.toDouble / reps
        }
        if (p == "fsm") ctx.layer("dsl.fsm.max_task_s") = c.maxTaskMs / 1e3
      }
    }
  }

  /** Single-threaded baseline: `Interpreter.eval` over the keyed load
    * input's values, outside Spark. */
  override def layers(): Unit = {
    val n = InterpN
    val t0 = System.nanoTime()
    val out = ctx.spanned("dsl.interpreter.local")(
      Interpreter.eval(Terms.loadLoop, Iterator.range(0, n.toInt).map(i => Terms.loadValue(i, off))).size)
    require(out > 0)
    ctx.layer("dsl.interpreter.local_elems_per_s") = n / ((System.nanoTime() - t0) / 1e9)
  }
}

object DslPaths {
  val Paths: Seq[String] = Seq("expr", "typed", "interp", "fsm")
  /** Volumes sized so each path's operation takes about half a second on
    * four cores; the warmup runs each path at 1/Warm of its volume. */
  val ExprN = 200_000_000L
  val TypedN = 3_000_000L
  val InterpN = 500_000L
  val Warm = 20L
  /** Rounds per run at least, so each path's median has four samples. */
  val MinRounds = 4
}
