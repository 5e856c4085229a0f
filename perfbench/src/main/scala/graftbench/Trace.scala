package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval of the benchmark run. `parent` names the span that
  * caused it; every span of one invocation shares `runId`.
  */
final case class Span(name: String, startMs: Long, endMs: Long,
    parent: String, runId: String) {
  def json: String =
    s"""{"name":${Json.str(name)},"start_ms":$startMs,"end_ms":$endMs,""" +
      s""""parent":${Json.str(parent)},"run_id":${Json.str(runId)}}"""
}

/** In-memory span store, written out once when the benchmark ends. */
final class Spans(val runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def add(name: String, startMs: Long, endMs: Long, parent: String): Unit =
    synchronized { buf += Span(name, startMs, endMs, parent, runId) }

  /** Time `body` as a span; returns its result and the seconds it took. */
  def time[A](name: String, parent: String)(body: => A): (A, Double) = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t0) / 1e9
    add(name, w0, System.currentTimeMillis(), parent)
    (a, sec)
  }

  def all: Seq[Span] = synchronized(buf.toList)

  def write(path: String): Unit =
    Json.writeFile(path, all.map(_.json).mkString("", "\n", "\n"))
}

/** Work counted for one segment of a run: a pipeline stage or a query. */
final class SegmentStats {
  var firstJobMs: Long = Long.MaxValue
  var endMs: Long = 0L
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  /** Longest task time over the median task time (1 when no tasks). */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      val med = math.max(1L, s(s.length / 2))
      s.last.toDouble / med
    }
}

/** Peak bytes of RDD/DataFrame blocks held by the block manager (memory
  * plus disk), followed through block updates. Cheap enough to stay
  * registered in untraced runs: it handles one event kind.
  */
final class CacheMeter extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var current = 0L
  @volatile var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      current += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes.remove(key) else sizes(key) = now
      if (current > peakBytes) peakBytes = current
    }
  }
}

/** Assigns Spark jobs, tasks, shuffle and spill to segments of a run.
  *
  * Query segments are named by the `Tracer.OpKey` local property that
  * the calling thread sets around each query. Pipeline stages are found
  * from what the pipeline writes, not from how it is wired: every job
  * carrying `PhaseKey = pipeline` joins the open segment; a segment is
  * named by the `<outDir>/<stage>` directory an SQL execution inside it
  * writes, and it closes when the execution appending to
  * `<outDir>/_lineage` ends (the stage runner's last act per stage).
  */
final class Tracer(outDir: String) extends SparkListener {
  import Tracer._

  private val outPrefix = new java.io.File(outDir).getAbsolutePath + "/"
  // the write node's arguments start with its output path, in both the
  // inline and the formatted plan description
  private val writeTarget =
    """(?:InsertIntoHadoopFsRelationCommand|Arguments:) (?:file:)?(/[^,\s]+), (?:false|true), """.r

  // pipeline segmentation state
  private var segIdx = 0
  private val segNames = mutable.HashMap.empty[Int, String]
  private val lineageExecs = mutable.HashSet.empty[Long]
  // name -> stats; pipeline segments are keyed "#<idx>" until named
  private val stats = mutable.LinkedHashMap.empty[String, SegmentStats]
  private val stageOwner = mutable.HashMap.empty[Int, String]
  private val jobOwner = mutable.HashMap.empty[Int, String]
  private var pipelineJobs = 0
  @volatile private var handlerNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(body)
    handlerNs += System.nanoTime() - t0
  }

  private def seg(key: String): SegmentStats =
    stats.getOrElseUpdate(key, new SegmentStats)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      writeTarget.findFirstMatchIn(s.physicalPlanDescription)
        .map(_.group(1)).filter(_.startsWith(outPrefix))
        .map(_.stripPrefix(outPrefix)).foreach { rel =>
          if (rel == "_lineage") lineageExecs += s.executionId
          else if (!rel.contains("/")) segNames(segIdx) = rel
        }
    }
    case s: SparkListenerSQLExecutionEnd => timed {
      if (lineageExecs.remove(s.executionId)) {
        stats.get(s"#$segIdx").foreach(_.endMs = s.time)
        segIdx += 1
      }
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = timed {
    val props = Option(j.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey)))
    val inPipeline =
      props.flatMap(p => Option(p.getProperty(PhaseKey))).contains(Pipeline)
    val key =
      if (inPipeline) { pipelineJobs += 1; Some(s"#$segIdx") }
      else op
    key.foreach { k =>
      val st = seg(k)
      st.jobs += 1
      st.firstJobMs = math.min(st.firstJobMs, j.time)
      jobOwner(j.jobId) = k
      j.stageIds.foreach(id => stageOwner(id) = k)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = timed {
    jobOwner.remove(j.jobId).foreach { k =>
      val st = seg(k)
      if (!k.startsWith("#")) st.endMs = math.max(st.endMs, j.time)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = timed {
    stageOwner.get(t.stageId).foreach { k =>
      val st = seg(k)
      st.tasks += 1
      st.taskMs += t.taskInfo.duration
      Option(t.taskMetrics).foreach { m =>
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Pipeline segments in order, each with the stage it wrote; a segment
    * that wrote no stage directory keeps its `#<idx>` key.
    */
  def pipelineSegments: Seq[(String, SegmentStats)] = synchronized {
    stats.toSeq.collect {
      case (k, st) if k.startsWith("#") =>
        val idx = k.stripPrefix("#").toInt
        (segNames.getOrElse(idx, k), st)
    }
  }

  def opStats(name: String): Option[SegmentStats] = synchronized(stats.get(name))

  /** Jobs started inside the pipeline phase. */
  def pipelineJobCount: Int = synchronized(pipelineJobs)

  def handlerSeconds: Double = handlerNs / 1e9
}

object Tracer {
  val PhaseKey = "graftbench.phase"
  val OpKey = "graftbench.op"
  val Pipeline = "pipeline"
}

/** Minimal JSON writing for the result and span files. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def writeFile(path: String, content: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), content)
}
