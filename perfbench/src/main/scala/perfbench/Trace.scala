package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable

/** Order statistics the benchmark reports. */
object Stats {
  /** NaN for no samples: a run whose every operation failed reports
    * null metrics and `correct: false` rather than crashing.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** A tail latency: the highest order statistic with at least ten
    * samples beyond it, with the percentile it sits at and how many
    * samples lie beyond. With ten samples or fewer no such statistic
    * exists; the maximum is returned with `beyond = 0` so the report
    * says so.
    */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Tail(Double.NaN, 0.0, 0, 0)
    else if (n <= 10) Tail(s.last, 100.0, 0, n)
    else {
      val k = n - 11 // n - 1 - k == 10 samples beyond index k
      Tail(s(k), 100.0 * (k + 1) / n, n - 1 - k, n)
    }
  }

  /** Time inside [start, end) not covered by any child interval. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L; var curA = 0L; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB != Long.MinValue) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB != Long.MinValue) covered += curB - curA
    (end - start) - covered
  }
}

/** Counters for the Spark work of one job group. */
final class GroupMetrics {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleBytes = 0L // read + written
  var spillBytes = 0L   // memory + disk
  var runTimeMs = 0L    // executor run time summed over tasks
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(o: GroupMetrics): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    runTimeMs += o.runTimeMs; taskMs ++= o.taskMs
  }

  /** Slowest task over the median task (1 when there are no tasks). */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else math.max(taskMs.max.toDouble, 1.0) /
      math.max(Stats.median(taskMs.map(_.toDouble).toSeq), 1.0)
}

/** Attributes jobs, stages and tasks to the job group that submitted
  * them. All callbacks arrive on the bus's single dispatch thread; the
  * reader synchronizes after draining the bus.
  */
final class GroupListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupMetrics]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def of(g: String) = groups.getOrElseUpdate(g, new GroupMetrics)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val m = of(g)
      m.tasks += 1
      m.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { t =>
        m.shuffleBytes += t.shuffleReadMetrics.totalBytesRead +
          t.shuffleWriteMetrics.bytesWritten
        m.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
        m.runTimeMs += t.executorRunTime
      }
    }
  }

  def snapshot(): Map[String, GroupMetrics] = synchronized {
    groups.map { case (k, v) => val c = new GroupMetrics; c.add(v); k -> c }.toMap
  }
}

final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, group: String) {
  def seconds: Double = (end - start) / 1e9
}

/** Runs the benchmark's calls into the engine. Each call gets its own
  * Spark job group, set from outside around the public function, so the
  * listener can attribute work to it; with `traced` the spans are kept
  * in memory and the listener is attached.
  */
final class Tracer(spark: SparkSession, val runId: String, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  // streaming queries run their jobs under their own run-id group
  private val aliases = mutable.HashMap.empty[String, String]
  private val listener = new GroupListener
  private var attached = false

  if (traced) attach()

  /** Attaches or detaches the listener; detached, calls cost what they
    * cost untraced (used to measure the tracing overhead).
    */
  def attach(): Unit = if (!attached) { sc.addSparkListener(listener); attached = true }
  def detach(): Unit = if (attached) { drain(); sc.removeSparkListener(listener); attached = false }

  def drain(): Unit = org.apache.spark.perfbench.BusAccess.drain(sc)

  /** Times `f` as span `name`; returns its result and wall seconds. */
  def timed[A](name: String)(f: => A): (A, Double) = {
    val id = nextId; nextId += 1
    val group = s"pb-$runId-$id"
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    sc.setJobGroup(group, name)
    stack = (id, group) :: stack
    val t0 = System.nanoTime()
    try {
      val a = f
      val t1 = System.nanoTime()
      if (traced) spanBuf += Span(id, name, t0, t1, parent, group)
      (a, (t1 - t0) / 1e9)
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some((_, g)) => sc.setJobGroup(g, "")
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Books a started streaming query's jobs to the innermost span. */
  def adopt(q: StreamingQuery): StreamingQuery = {
    stack.headOption.foreach { case (_, g) => aliases(q.runId.toString) = g }
    q
  }

  def spans: Seq[Span] = spanBuf.toSeq

  /** Metrics per span id, over the span's own group only. */
  def groupMetrics(): Map[Int, GroupMetrics] = {
    drain()
    val byGroup = mutable.HashMap.empty[String, GroupMetrics]
    listener.snapshot().foreach { case (g, m) =>
      byGroup.getOrElseUpdate(aliases.getOrElse(g, g), new GroupMetrics).add(m)
    }
    spanBuf.flatMap(s => byGroup.get(s.group).map(s.id -> _)).toMap
  }

  /** Self seconds per span id (span minus child coverage). */
  def selfSeconds(): Map[Int, Double] = {
    val kids = spanBuf.groupBy(_.parent)
    spanBuf.map { s =>
      s.id -> Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq) / 1e9
    }.toMap
  }

  /** Metrics of a span plus all spans below it. */
  def subtreeMetrics(): Map[Int, GroupMetrics] = {
    val own = groupMetrics()
    val kids = spanBuf.groupBy(_.parent)
    val memo = mutable.HashMap.empty[Int, GroupMetrics]
    def total(id: Int): GroupMetrics = memo.getOrElseUpdate(id, {
      val m = new GroupMetrics
      own.get(id).foreach(m.add)
      kids.getOrElse(id, Nil).foreach(c => m.add(total(c.id)))
      m
    })
    spanBuf.map(s => s.id -> total(s.id)).toMap
  }

  /** The spans as JSON lines, with self time and own-group counters. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val own = groupMetrics(); val self = selfSeconds()
    val lines = spanBuf.map { s =>
      val m = own.getOrElse(s.id, new GroupMetrics)
      Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent,
        "self_s" -> self(s.id), "jobs" -> m.jobs, "stages" -> m.stages,
        "tasks" -> m.tasks, "shuffle_bytes" -> m.shuffleBytes,
        "spill_bytes" -> m.spillBytes, "run_time_ms" -> m.runTimeMs)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** A minimal JSON encoder for the benchmark's own output. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
