package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.{HostStat, SelfCheck}

/** One benchmark run in one JVM: set up, measure for `seconds`, check every
  * output against the pinned values, and write a JSON record (plus the span
  * trace) for `run.py` to report.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1), data (the
  * corpus directory), work (scratch directory), pins, out, trace_out,
  * launch_ms (when the benchmark process started), and for the self-tests
  * inject_fail=1, perturb_pin=1, pin_mode=1 (record values without checking),
  * queries=a,b (replace the graph query list). */
object Main {

  val Cores = 4

  final class CheckFailed(msg: String) extends RuntimeException(msg)

  /** Run state shared by the workloads: operation and failure counts, the
    * outputs observed and the pinned values they must equal. */
  final class Ctx(val spark: SparkSession, val tracer: Tracer, val opt: Map[String, String],
                  pins: JsonNode) {
    val data: String = opt("data")
    val work: String = opt("work")
    val seed: Long = opt("seed").toLong
    val seconds: Double = opt("seconds").toDouble
    val pinMode: Boolean = opt.get("pin_mode").contains("1")
    private var perturb: Boolean = opt.get("perturb_pin").contains("1")

    var attempted = 0L
    val failures: mutable.ArrayBuffer[(String, String)] = mutable.ArrayBuffer.empty
    val observed: mutable.LinkedHashMap[String, Seq[(String, String)]] = mutable.LinkedHashMap.empty
    val detail: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
    val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
    var firstTimedMs: Long = -1L
    var heapLiveMb: Double = 0.0
    var modelStore: String = "unused"

    /** One attempted operation; a throw or a failed check counts it failed. */
    def op[A](name: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          failures += name -> msg
          System.err.println(s"[perfbench] FAILED $name: $msg")
          None
      }
    }

    /** Compare an output with its pinned value (first mismatch throws). */
    def expect(key: String, got: Seq[(String, String)]): Unit = {
      observed(key) = got
      if (!pinMode) {
        val pin = pins.path(key)
        if (pin.isMissingNode) throw new CheckFailed(s"no pinned value for $key")
        got.foreach { case (field, v) =>
          var want = pin.path(field).asText()
          if (perturb) { want += "-perturbed"; perturb = false }
          if (want != v) throw new CheckFailed(s"$key.$field = $v, pinned $want")
        }
      }
    }

    def sample(name: String, sec: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += sec

    def markTimedStart(): Unit = if (firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()

    /** The live heap: occupancy after a full GC. Spark's ContextCleaner frees
      * broadcasts and shuffles of collected plans only after a GC, on its
      * own thread, so collect again until the figure stops shrinking. */
    def heapAfterGc(): Unit = {
      def usedMb() = {
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      var prev = usedMb()
      var cur = prev
      var rounds = 0
      while ({ Thread.sleep(200); cur = usedMb(); rounds += 1; prev - cur > 1.0 && rounds < 3 })
        prev = cur
      heapLiveMb = cur
    }
  }

  private val obsCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Materialize every row and column through the `noop` sink, observing in
    * the same job the row count and the sum of per-row xxhash64 values (an
    * order-independent row-set hash). */
  def materialize(df: DataFrame): Seq[(String, String)] = {
    val obs = Observation(s"perfbench_${obsCounter.incrementAndGet()}")
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    df.observe(obs, count(lit(1)).as("rows"),
        sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("xxsum"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq("rows" -> String.valueOf(m("rows")), "xxsum" -> String.valueOf(m("xxsum")))
  }

  def canonical(df: DataFrame): Seq[(String, String)] = {
    val (hash, rows) = SelfCheck.canonicalHashAndRows(df)
    Seq("rows" -> rows.toString, "sha256" -> hash)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Time one measured call; JVM GC time inside it is added to `gcMs`. */
  final class Timer {
    var gcMs = 0L
    def apply[A](body: => A): (A, Double) = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      gcMs += gcMillis() - g0
      (r, sec)
    }
  }

  private def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  def dirBytesMb(p: String): Double = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0.0
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum / 1048576.0
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val runId = f"${opt("seed")}-${System.currentTimeMillis()}%x"
    val steal0 = HostStat.stealJiffies()
    val load0 = loadAvg()
    val pins = new ObjectMapper().readTree(new java.io.File(opt("pins")))

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val codegen0 = CodeGenerator.compileTime
    val tracer = new Tracer(spark.sparkContext, traced, runId)
    val ctx = new Ctx(spark, tracer, opt, pins)

    val w: Workload = workload match {
      case "e1" => new E1Workload(ctx)
      case "graph" => new GraphWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.span("setup")(w.setup())
    val stealTimed0 = HostStat.stealJiffies()
    val timer = new Timer
    tracer.span("timed")(w.timed(timer))
    val stealTimed = HostStat.stealSecSince(stealTimed0)
    ctx.heapAfterGc()
    tracer.span("check")(w.check())
    if (opt.get("inject_fail").contains("1"))
      ctx.op("injected_failure")(throw new RuntimeException("injected failure"))
    tracer.finish()
    val codegenMs = (CodeGenerator.compileTime - codegen0) / 1e6

    val launchMs = opt("launch_ms").toLong
    val e2e = w.endToEnd() ++ Seq(
      "setup_s" -> (ctx.firstTimedMs - launchMs) / 1000.0,
      "heap_live_mb" -> ctx.heapLiveMb)
    val layer = if (traced) w.perLayer(timer) ++ Seq("codegen_compile_ms" -> codegenMs) else Nil
    val host = Seq(
      "steal_s" -> HostStat.json(HostStat.stealSecSince(steal0)),
      "steal_timed_s" -> HostStat.json(stealTimed),
      "loadavg_start" -> Json.str(load0),
      "loadavg_end" -> Json.str(loadAvg()),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "cores" -> Cores.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_mem_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "local_dir" -> Json.str(spark.conf.get("spark.local.dir")),
      "timed_gc_s" -> Json.num(timer.gcMs / 1000.0),
      "codegen_compile_ms" -> Json.num(codegenMs))
    def nums(kv: Seq[(String, Double)]) = Json.obj(kv.map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> opt("seed"),
      "traced" -> traced.toString,
      "run_id" -> Json.str(runId),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failures.size.toString,
      "failures" -> Json.arr(ctx.failures.toSeq.map { case (n, m) =>
        Json.obj(Seq("op" -> Json.str(n), "error" -> Json.str(m))) }),
      "model_store" -> Json.str(ctx.modelStore),
      "end_to_end" -> nums(e2e),
      "per_layer" -> nums(layer),
      "detail" -> Json.obj(ctx.detail.toSeq),
      "samples_s" -> Json.obj(ctx.samples.toSeq.map { case (k, v) => k -> Json.arr(v.toSeq.map(Json.num)) }),
      "observed" -> Json.obj(ctx.observed.toSeq.map { case (k, v) =>
        k -> Json.obj(v.map { case (f, x) => f -> Json.str(x) }) }),
      "host" -> Json.obj(host)))
    Files.writeString(Paths.get(opt("out")), record + "\n")
    Files.writeString(Paths.get(opt("trace_out")), tracer.json)
    spark.stop()
    System.exit(if (ctx.failures.isEmpty) 0 else 1)
  }
}

/** A workload: set-up (untimed), the measured closed loop (one client thread
  * issuing each call after the previous one completed), and the output checks
  * that run outside the timed region. */
trait Workload {
  def setup(): Unit
  def timed(timer: Main.Timer): Unit
  def check(): Unit
  def endToEnd(): Seq[(String, Double)]
  def perLayer(timer: Main.Timer): Seq[(String, Double)]
}

/** Per-layer figures common to both workloads, per iteration: `iters` holds
  * the Spark work and wall seconds of each iteration (medians are taken
  * field by field). */
object Layers {
  import Main.median
  def generic(iters: Seq[(Counts, Double)], gcSecPerIter: Double): Seq[(String, Double)] = {
    def med(f: Counts => Double) = median(iters.map(i => f(i._1)))
    val wall = median(iters.map(_._2))
    val run = med(_.runMs / 1000.0)
    val mb = 1048576.0
    Seq(
      "jobs" -> med(_.jobs.toDouble),
      "stages" -> med(_.stages.toDouble),
      "tasks" -> med(_.tasks.toDouble),
      "executor_run_s" -> run,
      "executor_cpu_s" -> med(_.cpuNs / 1e9),
      "gc_s" -> gcSecPerIter,
      "shuffle_write_mb" -> med(_.shuffleWrite / mb),
      "shuffle_read_mb" -> med(_.shuffleRead / mb),
      "spill_mb" -> med(_.spill / mb),
      "io_mb" -> med(c => (c.input + c.output) / mb),
      "slot_busy_frac" -> run / (wall * Main.Cores),
      "driver_only_s" -> median(iters.map { case (c, w) => w - c.jobBusyMs / 1000.0 }),
      "traced_iteration_s" -> wall)
  }
}
