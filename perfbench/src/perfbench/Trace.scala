package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** In-memory span buffer, written out once when the run ends. A span is
  * (name, start µs, end µs, parent, attributes); spans of one micro-batch
  * share the parent `batch.<id>`.
  */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[String]

  def add(name: String, startUs: Long, endUs: Long, parent: String,
      attrs: Map[String, Any]): Unit = {
    val line = Harness.json(mutable.LinkedHashMap[String, Any]("name" -> name,
      "start_us" -> startUs, "end_us" -> endUs, "parent" -> parent, "attrs" -> attrs))
    buf.synchronized { buf += line }
  }

  def write(path: String): Unit = {
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    Files.write(Paths.get(path), buf.synchronized(buf.mkString("", "\n", "\n")).getBytes(UTF_8))
  }
}

/** Spark scheduler listener that attributes jobs, tasks, shuffle and output
  * bytes to the streaming micro-batch that ran them (the engine tags every
  * job of a micro-batch with the `streaming.sql.batchId` local property).
  */
final class SparkTrace(spark: SparkSession, spans: Spans) extends SparkListener {
  import SparkTrace.{Job, Task}
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach { b =>
        jobs.put(e.jobId, Job(b.toLong, e.time, -1L, 0))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      spans.add(s"job.${e.jobId}", j.startMs * 1000, e.time * 1000, s"batch.${j.batch}",
        Map("tasks" -> j.tasks))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).map(jobs.get(_)).filter(_ != null).foreach { j =>
      j.synchronized { j.tasks += 1 }
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten))
    }

  private def jobsOf(batch: Long) = jobs.values().asScala.filter(_.batch == batch)
  private def tasksOf(batches: Set[Long]) = tasks.asScala.filter { t =>
    Option(stageJob.get(t.stage)).map(jobs.get(_)).exists(j => j != null && batches(j.batch))
  }

  def jobCount(batch: Long): Int = jobsOf(batch).size
  def taskCount(batch: Long): Int = jobsOf(batch).map(_.tasks).sum

  /** Wall time covered by the batch's jobs (union of their intervals). */
  def jobWallMs(batch: Long): Double = {
    val iv = jobsOf(batch).filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).toSeq.sorted
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }

  def taskTimeMs(batches: Set[Long]): Double = tasksOf(batches).map(_.runMs).sum.toDouble
  def shuffleBytes(batches: Set[Long]): Double = tasksOf(batches).map(_.shuffleBytes).sum.toDouble
  def outputBytes(batches: Set[Long]): Double = tasksOf(batches).map(_.outBytes).sum.toDouble

  /** Median over stages with at least two tasks of max / median task time. */
  def taskSkew(batches: Set[Long]): Double = Harness.median(
    tasksOf(batches).groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val times = ts.map(_.runMs.toDouble).toSeq
      times.max / math.max(1.0, Harness.median(times))
    }.toSeq)

  /** One span per micro-batch (from the query's own progress reports). */
  def batchSpans(q: StreamingQuery): Unit = q.recentProgress.foreach { p =>
    val start = Instant.parse(p.timestamp)
    val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000
    val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    spans.add(s"batch.${p.batchId}", startUs, startUs + total * 1000, "query",
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap ++
        Map("rows" -> p.numInputRows))
  }

  /** The listener bus delivers events asynchronously: give the last
    * job and task ends of a stopped query time to arrive.
    */
  def settle(): Unit = Thread.sleep(500)

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

object SparkTrace {
  private final case class Job(batch: Long, startMs: Long, var endMs: Long, var tasks: Int)
  private final case class Task(stage: Int, runMs: Long, shuffleBytes: Long, outBytes: Long)

  def attach(spark: SparkSession, spans: Spans): SparkTrace = {
    val t = new SparkTrace(spark, spans)
    spark.sparkContext.addSparkListener(t)
    t
  }
}
