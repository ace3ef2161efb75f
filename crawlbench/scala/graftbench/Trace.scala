package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** One span: a timed call from the benchmark into a layer of the
  * program. `parent` is the id of the enclosing span (-1 at the top)
  * and `key` names the round or query the span belongs to.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, key: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out once, when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def apply[A](name: String, key: String = "")(f: => A): A = {
    val id = buf.size
    buf += Span(id, name, System.nanoTime(), -1L, open.headOption.getOrElse(-1), key)
    open = id :: open
    try f
    finally {
      open = open.tail
      buf(id) = buf(id).copy(endNs = System.nanoTime())
    }
  }

  def total(name: String): Double = buf.iterator.filter(_.name == name).map(_.seconds).sum

  def toJsonLines: String = {
    val origin = buf.headOption.map(_.startNs).getOrElse(0L)
    buf.map { s =>
      Json.encode(Map("id" -> s.id, "name" -> s.name, "start_s" -> (s.startNs - origin) / 1e9,
        "end_s" -> (s.endNs - origin) / 1e9, "parent" -> s.parent, "key" -> s.key))
    }.mkString("", "\n", "\n")
  }
}

/** Per-job record built from listener events. */
final class JobRec(val id: Int, val label: String, val query: String, val startMs: Long) {
  var endMs: Long = -1L
  var taskMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  def wallS: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
}

/** SparkListener owned by the benchmark. Jobs are keyed by the job
  * description the caller set (`spark.job.description`; CrawlJob names
  * its jobs `frontier-write`, `spans-write`, ...) and by the query
  * property the benchmark sets around each query call. Tasks are
  * attributed to the first job that listed their stage.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, prop("spark.job.description"), prop(JobListener.QueryProp), e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.taskMs += m.executorRunTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

object JobListener {
  val QueryProp = "graftbench.query"
}
