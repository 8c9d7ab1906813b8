package cdcbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** A call span from the benchmark's own code. Times are wall-clock
  * milliseconds, the clock Spark stamps job events with. All spans of one
  * batch or op share `group`. */
final class Span(
    val id: Int, val name: String, val group: Int, val parent: Int,
    val start: Long, @volatile var end: Long = -1L)

/** One Spark job as the listener saw it, with its tasks' totals. `tag` is
  * the id of the span whose thread submitted it (see [[JobTag]]), 0 if
  * none. */
final class JobRec(val id: Int, val desc: String, val start: Long, val tag: Int = 0) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var failedTasks = 0L

  /** `lake:<phase> <path>` → phase; anything else is unlabelled. */
  def phase: String =
    if (desc != null && desc.startsWith("lake:")) desc.drop(5).takeWhile(_ != ' ')
    else JobRec.Unlabelled
}

object JobRec { val Unlabelled = "unlabelled" }

/** Tags the jobs a span's thread submits with the span's id, through a
  * Spark local property. Threads a call creates inherit it, so jobs from
  * the program's own driver pools carry the tag too. The tag is a record
  * of job ownership independent of the start-time attribution in
  * [[Tracer.tree]]. */
object JobTag {
  val Key = "cdcbench.span"

  def apply[T](sc: SparkContext, spanId: Int)(f: => T): T = {
    val old = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, spanId.toString)
    try f finally sc.setLocalProperty(Key, old)
  }

  def of(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(0)
}

/** Records every job and folds task metrics into it. */
final class JobTap extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    val j = new JobRec(e.jobId, desc, e.time, JobTag.of(e.properties))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.reason != Success) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Interval arithmetic for attributing wall time to overlapping jobs. */
object Intervals {
  /** Each interval's exclusive share of `[lo, hi]`: every instant covered
    * by k intervals is split evenly among them, so the shares sum to the
    * union and concurrently dispatched jobs are never counted twice. */
  def shares(lo: Long, hi: Long, xs: Seq[(Long, Long)]): Seq[Double] = {
    val clipped = xs.map { case (s, e) => (s.max(lo), e.min(hi)) }
    val cuts = (clipped.flatMap { case (s, e) => Seq(s, e) } ++ Seq(lo, hi))
      .filter(t => t >= lo && t <= hi).distinct.sorted
    val out = Array.fill(xs.size)(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val live = clipped.indices.filter(i => clipped(i)._1 <= a && clipped(i)._2 >= b)
        live.foreach(i => out(i) += (b - a).toDouble / live.size)
      case _ =>
    }
    out.toSeq
  }
}

/** Self-time node: a span or a job, with its share of the parent and the
  * part of that share its own children do not cover. */
final case class Node(name: String, share: Double, self: Double, job: Option[JobRec], span: Option[Span])

/** Spans kept in memory; written out once at the end of a traced run.
  * With a SparkContext, [[span]] tags the jobs of its call with its id. */
final class Tracer(val enabled: Boolean, sc: Option[SparkContext] = None) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var nextGroup = 1

  def newGroup(): Int = synchronized { nextGroup += 1; nextGroup }

  def open(name: String, group: Int, parent: Int = 0): Span = synchronized {
    val s = new Span(nextId, name, group, parent, System.currentTimeMillis())
    nextId += 1
    if (enabled) spans += s
    s
  }

  def close(s: Span): Span = { s.end = System.currentTimeMillis(); s }

  def span[T](name: String, group: Int, parent: Int = 0)(f: => T): (T, Span) = {
    val s = open(name, group, parent)
    val run = () => try (f, s) finally close(s)
    sc.filter(_ => enabled).fold(run())(JobTag(_, s.id)(run()))
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Flatten the tree under `root`: each job hangs under the deepest span
    * that was open when it started; shares and self times follow
    * [[Intervals.shares]]. The self times sum to the root's duration by
    * construction (each node's self is its share minus its children's
    * shares), so that sum is an identity, not a check. */
  def tree(root: Span, jobs: Seq[JobRec], spans: Seq[Span] = all): Seq[Node] = {
    val mine = spans.filter(s => s.group == root.group && s.end >= 0)
    def kids(s: Span): Seq[Span] = mine.filter(_.parent == s.id)
    def depth(s: Span): Int = if (s.parent == 0 || s.id == root.id) 0
      else 1 + mine.find(_.id == s.parent).map(depth).getOrElse(0)
    val inRoot = jobs.filter(j => j.start >= root.start && j.start <= root.end)
    val owner: Map[Int, Int] = inRoot.map { j =>
      val holders = mine.filter(s => j.start >= s.start && j.start <= s.end &&
        (s.id == root.id || isUnder(s, root, mine)))
      j.id -> holders.maxBy(depth).id
    }.toMap
    val out = mutable.ArrayBuffer.empty[Node]
    def walk(s: Span, share: Double): Unit = {
      val spanKids = kids(s)
      val jobKids = inRoot.filter(j => owner(j.id) == s.id)
      val ivs = spanKids.map(k => (k.start, k.end)) ++
        jobKids.map(j => (j.start, if (j.end < 0) s.end else j.end))
      val sh = Intervals.shares(s.start, s.end, ivs)
      out += Node(s.name, share, share - sh.sum, None, Some(s))
      spanKids.zip(sh).foreach { case (k, x) => walk(k, x) }
      jobKids.zip(sh.drop(spanKids.size)).foreach { case (j, x) =>
        out += Node("job:" + j.phase, x, x, Some(j), None)
      }
    }
    walk(root, (root.end - root.start).toDouble)
    out.toSeq
  }

  /** What the attribution of `root` gets wrong: a node whose children
    * cover more than its own share (negative self time, from a span that
    * overlaps a sibling), or a job set other than the jobs Spark tagged
    * with the spans of this tree. */
  def problems(root: Span, jobs: Seq[JobRec], nodes: Seq[Node]): Seq[String] = {
    val negative = nodes.filter(_.self < -1e-6).map(n => f"${root.name} > ${n.name}: self ${n.self}%.1f ms")
    val ids = nodes.flatMap(_.span).map(_.id).toSet
    val tagged = jobs.filter(j => ids(j.tag))
    val held = nodes.flatMap(_.job)
    def phases(js: Seq[JobRec]) =
      js.groupBy(_.phase).map { case (p, xs) => s"$p=${xs.size}" }.toSeq.sorted.mkString(",")
    val mismatch =
      if (tagged.map(_.id).toSet == held.map(_.id).toSet) Nil
      else Seq(s"${root.name}: tree holds jobs ${phases(held)}, tags say ${phases(tagged)}")
    negative ++ mismatch
  }

  private def isUnder(s: Span, root: Span, mine: Seq[Span]): Boolean =
    s.parent == root.id || mine.find(_.id == s.parent).exists(p => isUnder(p, root, mine))

  def toJson(jobs: Seq[JobRec]): String = {
    val ss = all.map(s => Map(
      "id" -> s.id, "name" -> s.name, "group" -> s.group, "parent" -> s.parent,
      "start" -> s.start, "end" -> s.end))
    val js = jobs.map(j => Map(
      "job" -> j.id, "phase" -> j.phase, "span" -> j.tag, "start" -> j.start, "end" -> j.end,
      "tasks" -> j.tasks, "run_ms" -> j.runMs))
    Json.value(Map("spans" -> ss, "jobs" -> js))
  }
}

/** Filesystem accounting from outside the program: snapshots of a tree's
  * files (size and mtime) before and after a call. */
object Fs {
  final case class Entry(size: Long, mtime: Long)
  type Listing = Map[String, Entry]

  def list(root: String): Listing = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val st = java.nio.file.Files.walk(p)
    try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
      val a = java.nio.file.Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
      p.relativize(f).toString -> Entry(a.size(), a.lastModifiedTime().toMillis)
    }.toMap
    finally st.close()
  }

  def bytes(l: Listing): Long = l.values.map(_.size).sum

  /** Files created or rewritten between two listings. */
  def written(before: Listing, after: Listing): Listing =
    after.filter { case (k, e) => !before.get(k).contains(e) }

  def deleted(before: Listing, after: Listing): Listing = before -- after.keySet

  private val BucketDir = """^(.*?)/data/[^/]+/b=(\d+)/.*""".r

  /** Distinct (table/partition, bucket) pairs among written data files. */
  def buckets(written: Listing): Int = written.keys.collect {
    case BucketDir(t, b) => s"$t#$b"
  }.toSet.size
}
