package graftbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.dsl.Keyed
import graft.streaming.{FileStreamSource, StreamFsm, StreamSource}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The streaming part of `dsl_paths`: `events` split by event_id range into
  * files, read one file per trigger through `FileStreamSource`, run through
  * `StreamFsm.fsmStreamAuto` on the RocksDB state store (so the
  * `transformWithState` runner), written to a `foreachBatch` sink.
  *
  * Closed-loop catch-up: set-up ends with the first micro-batch (the only
  * file in the source directory); then every remaining file is moved in at
  * once and each trigger fires when the previous batch commits. */
final class StreamReplay(ctx: Ctx) {
  private val srcDir = ctx.arg("stream_src")
  private val pendingDir = ctx.arg("stream_pending")
  private var query: StreamingQuery = _
  private var schema: StructType = _
  private val out = new ConcurrentLinkedQueue[Row]()

  /** Session settings: the RocksDB provider selects the TWS runner. */
  val conf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.numRecentProgressUpdates" -> "1000")

  def load(): Unit = {
    val first = ctx.spark.read.parquet(srcDir)
    schema = first.schema
    first.count()
  }

  /** Start the query on a fresh checkpoint and run the first micro-batch. */
  def start(): Unit = {
    val s = ctx.spark
    import s.implicits._
    val events = StreamSource.load(s, FileStreamSource(srcDir, "parquet", Some(schema), capPerTrigger = Some(1L)))
    val keyed: Dataset[Keyed[(String, Double, Long)]] = events
      .select($"user_id", $"event_id", $"event_type", $"value").as[(Long, Long, String, Double)]
      .map { case (u, id, t, v) => Keyed(u, id, (t, v, id)) }
    val sink = out
    query = StreamFsm.fsmStreamAuto(keyed, false)(Terms.toggleStep)
      .select($"key", $"seq", $"value._1".as("event_id"), $"value._2".as("value_c"))
      .writeStream
      .queryName("fsm_replay")
      .option("checkpointLocation", s"${ctx.work}/checkpoint")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => b.collect().foreach(sink.add) }
      .start()
    query.processAllAvailable()
  }

  def stop(): Unit = if (query != null && query.isActive) query.stop()

  /** Move every pending file into the source and process them all; each
    * micro-batch is one `stream.batch` operation. */
  def replay(): Unit = {
    val files = Option(new File(pendingDir).listFiles()).getOrElse(Array.empty[File]).sortBy(_.getName)
    // the source admits files oldest first; rename keeps each file's mtime
    files.foreach(f => require(f.renameTo(new File(srcDir, f.getName)), s"cannot move $f"))
    ctx.spanned("stream.replay", Map("files" -> files.length)) {
      try query.processAllAvailable()
      catch { case e: Throwable => System.err.println(s"[perfbench] stream failed: $e") }
    }
    val done = query.recentProgress.toSeq.filter(p => p.numInputRows > 0 && p.batchId > 0)
      .map(p => p.batchId -> p).toMap
    query.stop()
    val timed = (1 to files.length).flatMap { i =>
      done.get(i.toLong) match {
        case Some(p) =>
          val ms = p.durationMs.get("triggerExecution").toDouble
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          ctx.ops += Op("stream.batch", start, ms)
          ctx.tracer.record("stream.batch", ctx.tracer.current, start, start + ms, Map("batch" -> i))
          Some(p)
        case None =>
          ctx.ops += Op("stream.batch", Clock.now(), 0.0, Some(s"micro-batch $i did not run"))
          None
      }
    }
    val path = s"${ctx.work}/out/stream"
    val outSchema = StructType(Seq("key", "seq", "event_id", "value_c").map(StructField(_, LongType)))
    ctx.spark.createDataFrame(java.util.Arrays.asList(out.asScala.toSeq: _*), outSchema)
      .coalesce(1).write.parquet(path)
    ctx.check("stream_out") = path

    val ms = timed.map(_.durationMs.get("triggerExecution").toDouble)
    ctx.metrics("stream.rows_per_s") = if (ms.isEmpty) 0.0 else timed.map(_.numInputRows).sum / (ms.sum / 1e3)
    ctx.metrics("stream.batch_p50_ms") = Stats.median(ms)
    if (ctx.traced) {
      def p50(k: String): Double =
        Stats.median(timed.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      def state50(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
        Stats.median(timed.flatMap(_.stateOperators.headOption).map(f))
      ctx.layer("stream.rows_per_s") = ctx.metrics("stream.rows_per_s").asInstanceOf[Double]
      ctx.layer("stream.batch_p50_ms") = Stats.median(ms)
      ctx.layer("stream.latest_offset_ms") = p50("latestOffset")
      ctx.layer("stream.get_batch_ms") = p50("getBatch")
      ctx.layer("stream.query_planning_ms") = p50("queryPlanning")
      ctx.layer("stream.add_batch_ms") = p50("addBatch")
      ctx.layer("stream.wal_commit_ms") = p50("walCommit")
      ctx.layer("stream.commit_offsets_ms") = p50("commitOffsets")
      ctx.layer("stream.state_update_ms") = state50(_.allUpdatesTimeMs.toDouble)
      ctx.layer("stream.state_commit_ms") = state50(_.commitTimeMs.toDouble)
      val last = timed.lastOption.flatMap(_.stateOperators.headOption)
      ctx.layer("stream.state_rows_total") = last.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      ctx.layer("stream.state_memory_bytes") = last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
      ctx.layer("stream.rows_out") = out.size.toDouble
    }
  }
}
