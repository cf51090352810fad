package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** One call into a layer: wall interval (epoch ms for matching listener
  * events, nanoTime for durations) and the span that caused it. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to a span: completed jobs, stages and tasks with
  * their summed task metrics. `labels` counts jobs by the program's own job
  * description (`e1:<stage>`), `unlabeled` for jobs that carry none. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  /** (start, end) epoch ms of every job, for the wall covered by jobs. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  val labels: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; output += o.output
    jobIntervals ++= o.jobIntervals
    o.labels.foreach { case (k, v) => labels(k) += v }
  }

  /** Wall time during which at least one job was running. */
  def jobBusyMs: Long = {
    var covered = 0L
    var reach = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }
}

/** Spans held in memory for the whole run and written out when it ends.
  *
  * With `traced`, each span sets its own Spark job group, and a listener
  * registered by the benchmark (not by the program) records jobs and
  * completed stages; `finish()` attributes them to spans by job group, or by
  * the innermost span that was open when the job started (jobs submitted
  * from pool threads that did not inherit the group). Untraced runs record
  * span times only: no listener, no job groups. */
final class Tracer(sc: SparkContext, val traced: Boolean, runId: String) {
  private final case class JobRec(id: Int, startMs: Long, group: String, desc: String,
                                  stageIds: Seq[Int])
  private final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
                                    shuffleWrite: Long, shuffleRead: Long,
                                    spill: Long, input: Long, output: Long)

  private val jobStarts = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageEnds = new ConcurrentLinkedQueue[StageRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobStarts.add(JobRec(e.jobId, e.time,
        p.map(_.getProperty("spark.jobGroup.id")).orNull,
        p.map(_.getProperty("spark.job.description")).orNull, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m == null) stageEnds.add(StageRec(s.stageId, s.numTasks, 0, 0, 0, 0, 0, 0, 0))
      else stageEnds.add(StageRec(s.stageId, s.numTasks, m.executorRunTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }
  if (traced) sc.addSparkListener(listener)

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val groupPrefix = s"perfbench-$runId-"

  def span[A](name: String)(body: => A): A = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    if (traced) sc.setJobGroup(groupPrefix + s.id, s"perfbench:$name", interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      if (traced) open.headOption match {
        case Some(p) => sc.setJobGroup(groupPrefix + p.id, s"perfbench:${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private var own: Map[Int, Counts] = Map.empty

  /** Deliver every pending listener event and attribute jobs and stages to
    * spans. Call once, after the last span has closed. */
  def finish(): Unit = if (traced) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    val jobs = jobStarts.asScala.toSeq.sortBy(_.id)
    def innermostAt(ms: Long): Option[Span] =
      spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(-_.startNs).headOption
    val spanOfJob: Map[Int, Int] = jobs.flatMap { j =>
      val byGroup = Option(j.group).filter(_.startsWith(groupPrefix))
        .map(_.stripPrefix(groupPrefix).toInt)
      byGroup.orElse(innermostAt(j.startMs).map(_.id)).map(j.id -> _)
    }.toMap
    val jobOfStage = mutable.Map.empty[Int, Int]
    jobs.foreach(j => j.stageIds.foreach(st => jobOfStage.getOrElseUpdate(st, j.id)))
    val acc = mutable.Map.empty[Int, Counts]
    def at(spanId: Int): Counts = acc.getOrElseUpdate(spanId, new Counts)
    jobs.foreach { j =>
      spanOfJob.get(j.id).foreach { sid =>
        val c = at(sid)
        c.jobs += 1
        val label = Option(j.desc).filter(_.startsWith("e1:")).map(_.stripPrefix("e1:"))
          .getOrElse("unlabeled")
        c.labels(label) += 1
        c.jobIntervals += (j.startMs -> Option(jobEnds.get(j.id)).getOrElse(j.startMs))
      }
    }
    stageEnds.asScala.foreach { s =>
      for (jid <- jobOfStage.get(s.id); sid <- spanOfJob.get(jid)) {
        val c = at(sid)
        c.stages += 1; c.tasks += s.tasks
        c.runMs += s.runMs; c.cpuNs += s.cpuNs
        c.shuffleWrite += s.shuffleWrite; c.shuffleRead += s.shuffleRead
        c.spill += s.spill; c.input += s.input; c.output += s.output
      }
    }
    own = acc.toMap
  }

  /** Work of a span and of every span nested in it. */
  def inclusive(s: Span): Counts = {
    val c = new Counts
    def walk(id: Int): Unit = {
      own.get(id).foreach(c.add)
      spans.iterator.filter(_.parent == id).foreach(ch => walk(ch.id))
    }
    walk(s.id)
    c
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def json: String = {
    val rows = spans.map { s =>
      val c = inclusive(s)
      val counts =
        if (!traced) ""
        else s""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
          s""""executor_run_ms":${c.runMs},"shuffle_read_b":${c.shuffleRead},""" +
          s""""shuffle_write_b":${c.shuffleWrite},"input_b":${c.input},"output_b":${c.output},""" +
          s""""job_labels":${Json.obj(c.labels.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })}"""
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"run":${Json.str(runId)}$counts}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Minimal JSON rendering for the record and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
