package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation: `name` identifies what was run (a DSL path, a query,
  * a micro-batch), `ms` its wall time, `error` why it failed. */
final case class Op(name: String, start: Double, ms: Double, error: Option[String] = None)

/** Everything one run shares: arguments, the current session, the tracer and
  * the record the run writes for `run.py`. */
final class Ctx(args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val work: String = args("work")
  val cpus: Int = args("cpus").toInt
  def arg(k: String): String = args(k)

  val tracer = new Tracer(traced, s"${workload}-${seed}-${ProcessHandle.current().pid()}")
  var spark: SparkSession = _
  var probe: Option[Probe] = None

  val ops = mutable.ArrayBuffer.empty[Op]
  /** The workload's own named figures (elements/s, rows/s, ...). */
  val metrics = mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer figures; filled in traced runs only. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Values the output checker compares against its oracles. */
  val check = mutable.LinkedHashMap.empty[String, Any]
  /** The set-up's phases, timed from JVM start. */
  val setup = mutable.LinkedHashMap.empty[String, Double]

  def newSession(extra: Map[String, String] = Map.empty): SparkSession = {
    val b = graft.SessionConf.common(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Time `body` as one operation named `name`. A throw is recorded as a
    * failed operation and yields None. */
  def timed[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): Option[T] = {
    val t0 = Clock.now()
    try {
      val r = spanned(name, attrs)(body)
      ops += Op(name, t0, Clock.now() - t0)
      Some(r)
    } catch {
      case e: Throwable =>
        ops += Op(name, t0, Clock.now() - t0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** A tracer span whose id also tags every Spark job submitted inside it. */
  def spanned[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!traced) body
    else tracer.span(name, attrs) {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Probe.SpanKey)
      sc.setLocalProperty(Probe.SpanKey, tracer.current.toString)
      try body finally sc.setLocalProperty(Probe.SpanKey, prev)
    }
}

/** Benchmark harness entry point, started by `perfbench/run.py`.
  *
  * Arguments are `--key value` pairs: workload, seed, seconds, trace, cpus,
  * work (the run's scratch directory), out (the record to write) and the
  * workload's input paths. The harness sets up once and times it from JVM
  * start, runs the workload's untimed warm pass, then whole rounds of its
  * timed operations for at least `seconds`, times the host control job, and
  * writes one JSON record.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val work: Workload = ctx.workload match {
      case "dsl_paths" => new DslPaths(ctx)
      case "analytics_mix" => new AnalyticsMix(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    var rc = 0
    try {
      val root = ctx.tracer.nextId()
      val runStart = Clock.now()
      ctx.tracer.current = root
      // set-up runs once, from JVM start: class loading, static init and the
      // first session's code generation are part of it
      ctx.tracer.span("setup") {
        val s0 = Clock.now()
        ctx.spark = ctx.tracer.span("session.create")(work.session())
        val s1 = Clock.now()
        ctx.tracer.span("tables.load")(work.load())
        val s2 = Clock.now()
        if (ctx.traced) ctx.probe = Some(new Probe(ctx.spark, ctx.tracer).attach())
        ctx.spanned("warmup")(work.warmup())
        val s3 = Clock.now()
        ctx.setup ++= Map("total_s" -> (s3 - jvmStart) / 1e3, "jvm_start_ms" -> (s0 - jvmStart),
          "session_create_ms" -> (s1 - s0), "tables_load_ms" -> (s2 - s1), "warmup_ms" -> (s3 - s2))
      }
      ctx.spanned("warm_pass")(work.warmPass())
      val before = ctx.probe.map { p => p.resetCachePeak(); p.snapshot() }
      ctx.tracer.span("measure")(work.measure())
      for (p <- ctx.probe; b <- before) {
        sparkLayers(ctx, p, p.snapshot().minus(b))
        p.detach()
      }
      if (ctx.traced) ctx.tracer.span("layers")(work.layers())
      val control = controlSeconds(ctx.spark)
      ctx.metrics("host.control_s") = control
      val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
      if (ctx.traced) {
        ctx.layer("session.create_ms") = ctx.setup("session_create_ms")
        ctx.layer("tables.load_ms") = ctx.setup("tables_load_ms")
        ctx.layer("jvm.heap_peak_mb") = heapMb
        ctx.layer("host.control_s") = control
      }
      ctx.tracer.record("run", 0, runStart, Clock.now(), Map("workload" -> ctx.workload), id = root)
      work.release()
      ctx.spark.stop()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check("fatal") = e.toString
        rc = 1
    }
    writeRecord(ctx, args("out"))
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(rc)
  }

  /** Spark's per-layer counts over the timed operations. */
  private def sparkLayers(ctx: Ctx, p: Probe, c: Counts): Unit = {
    val timed = ctx.ops.filter(_.error.isEmpty)
    ctx.layer("spark.analysis_ms") = c.analysisMs
    ctx.layer("spark.optimization_ms") = c.optimizationMs
    ctx.layer("spark.planning_ms") = c.planningMs
    ctx.layer("spark.idle_gap_s") = timed.map(o => p.idleMs(o.start, o.start + o.ms)).sum / 1e3
    ctx.layer("spark.jobs") = c.jobs.toDouble
    ctx.layer("spark.stages") = c.stages.toDouble
    ctx.layer("spark.tasks") = c.tasks.toDouble
    ctx.layer("spark.task_s") = c.taskMs / 1e3
    ctx.layer("spark.cpu_s") = c.cpuNs / 1e9
    ctx.layer("spark.gc_s") = c.gcMs / 1e3
    ctx.layer("spark.shuffle_read_bytes") = c.shuffleRead.toDouble
    ctx.layer("spark.shuffle_write_bytes") = c.shuffleWrite.toDouble
    ctx.layer("spark.spill_bytes") = c.spill.toDouble
    ctx.layer("cache.blocks_written") = c.blocksWritten.toDouble
    ctx.layer("cache.bytes_peak") = p.cachedPeak.toDouble
  }

  /** Bench's constant-work drift control: xxhash64 over 256M generated ids,
    * independent of the data and of graft's code. Timed once, after the
    * workload, when the JVM is warm. */
  def controlSeconds(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 256L << 20, 1L, 64).select(xxhash64(col("id")).as("h"))
        .agg(bit_xor(col("h"))).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
  }

  private def writeRecord(ctx: Ctx, path: String): Unit = {
    val rec = Map[String, Any](
      "workload" -> ctx.workload,
      "seed" -> ctx.seed,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "jvm_version" -> System.getProperty("java.runtime.version"),
      "setup" -> ctx.setup.toMap,
      "ops" -> ctx.ops.toSeq.map(o => Map("name" -> o.name, "start" -> o.start, "ms" -> o.ms, "error" -> o.error.orNull)),
      "metrics" -> ctx.metrics.toMap,
      "layer" -> ctx.layer.toMap,
      "check" -> ctx.check.toMap,
      "run_id" -> ctx.tracer.runId,
      "spans" -> ctx.tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "run" -> ctx.tracer.runId, "attrs" -> s.attrs)))
    Json.mapper.writeValue(new File(path), rec)
  }
}

/** The contract every workload implements; `Main` calls these in order. */
trait Workload {
  /** Create (or re-create) the session. */
  def session(): SparkSession
  /** Load the workload's inputs. */
  def load(): Unit
  /** The untimed warmup that ends set-up. */
  def warmup(): Unit
  /** An untimed pass after set-up, before the timed operations. */
  def warmPass(): Unit = ()
  /** Timed operations, whole rounds, for at least the run's seconds. */
  def measure(): Unit
  /** Per-layer figures; traced runs only. */
  def layers(): Unit = ()
  /** Stop anything still running before the session stops. */
  def release(): Unit = ()
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** JSON through the Jackson (with its Scala module) that Spark ships. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
