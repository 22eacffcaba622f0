package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit.MILLISECONDS
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc.{Transform, Wal2Json}
import graft.config.GraftConfig
import graft.ops.DedupIndex
import graft.streaming.{CdcMetrics, CdcStream, OrderedSink, StreamingTxAssembly}

/** JVM side of the benchmark: runs one workload against the engine's public
  * entry points and writes what it measured to `<work>/harness.json`.
  *
  * Inputs come from `gen.py` (staged under `<work>` by `run.py`); outputs
  * (sink batches, cluster table dump) stay under `<work>` for `run.py`'s
  * checker.
  *
  * A timed run (`--trace 0`) has one measured phase. A traced run has three,
  * untraced / traced / untraced, so that the tracing overhead is the traced
  * phase against both neighbours and JVM warm-up does not read as overhead.
  *
  * Usage: perfbench.Harness --mode backfill|neardup --work DIR
  *          --seconds S --trace 0|1 --cores N [--trace-out FILE]
  */
object Harness {

  // ------------------------------------------------------------ plumbing

  private val clockBaseUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  /** Wall clock in epoch microseconds, monotonic within the run. */
  def nowUs(): Long = clockBaseUs + System.nanoTime() / 1000L

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def waitUntil(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(2)
    }
  }

  def mkdirs(p: String): String = { Files.createDirectories(Paths.get(p)); p }

  /** Copy `src` into `dir` under `name` atomically: streaming sources skip
    * dot-files, so the rename is the moment the file appears.
    */
  def stage(src: String, dir: String, name: String): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  def fileCounts(line: String): Option[Int] =
    """"fileCount"\s*:\s*(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt)

  /** Per-source `fileCount`s of a checkpoint's `offsets/<n>` file. */
  def offsetCounts(ck: String, batch: Long): Seq[Int] = {
    val f = Paths.get(ck, "offsets", batch.toString)
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f, UTF_8).asScala.drop(2).flatMap(fileCounts).toSeq
  }

  def gcTotals(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
  }

  /** Peak resident set of this JVM (Linux VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (Files.exists(f)) Files.readAllLines(f).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    else 0.0
  }

  /** Minimal JSON rendering for the result file. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case t: Product if t.productArity > 0 && !t.isInstanceOf[Seq[_]] =>
      json(t.productIterator.toSeq)
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case Some(x) => json(x)
    case other => json(other.toString)
  }

  // ------------------------------------------------------------- engine

  /** The deployment's defaults, exactly as `graft.tools.Main` loads them. */
  lazy val cfg: GraftConfig = GraftConfig.load(Map.empty).flatMap(_.validated)
    .fold(e => throw new IllegalArgumentException(e), identity)

  def dedupWindow: String = s"${cfg.duplicateWindow.toSeconds} seconds"

  def session(master: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      // graft.tools.Main's default width
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", mkdirs(s"$work/warehouse"))
      .config("spark.local.dir", mkdirs(s"$work/tmp"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def walSource(spark: SparkSession, dir: String, maxFiles: Option[Int]): DataFrame = {
    val r = spark.readStream.format("graft.sources.WalDirectorySource")
      .option("path", dir)
    maxFiles.fold(r)(m => r.option("maxFilesPerTrigger", m.toLong)).load()
  }

  /** `CdcStream.start` with the arguments `graft.tools.Main` passes for
    * the default deployment (file source, parquet sink, metrics on).
    */
  def startCdc(spark: SparkSession, raw: DataFrame, out: String, ck: String): StreamingQuery =
    CdcStream.start(spark, raw, cfg.database, out, ck,
      tableAllowlist = cfg.tableFilters,
      trigger = Trigger.ProcessingTime(cfg.batchTimeout.toMillis, MILLISECONDS),
      unsafeUnorderedAsyncPublish = cfg.unsafeUnorderedAsyncPublish,
      maxPublishRetries = cfg.maxPublishRetries,
      dedupWatermark = dedupWindow,
      metrics = Some(new CdcMetrics.Registry),
      plugin = cfg.plugin)

  // -------------------------------------------------------- sink poller

  /** Watches a CDC query from outside: a batch is visible once
    * `batch_id=<n>/_SUCCESS` exists (or, for a batch that wrote nothing,
    * once its commit is logged); the batch's segment range is the
    * checkpoint's `offsets/<n>`. Also tails each source's `_acked` ledger.
    */
  final class SinkPoller(out: String, ck: String, walDirs: Seq[String]) extends Thread {
    setDaemon(true)
    /** (batch id, visible at µs, fileCount per source) */
    val batches = mutable.ArrayBuffer.empty[(Long, Long, Seq[Int])]
    /** per source: (acked at µs, fileCount) */
    val acks = walDirs.map(_ => mutable.ArrayBuffer.empty[(Long, Int)])
    @volatile var running = true
    private val ackLen = Array.fill(walDirs.size)(-1L)

    def visible: Seq[(Long, Long, Seq[Int])] = batches.synchronized(batches.toList)
    def lastAck(i: Int): Int = acks(i).synchronized(acks(i).lastOption.map(_._2).getOrElse(0))
    def lastCounts: Seq[Int] = visible.lastOption.map(_._3).getOrElse(walDirs.map(_ => 0))

    override def run(): Unit = {
      var next = 0L
      while (running) {
        var advanced = true
        while (advanced) {
          advanced = new File(s"$out/batch_id=$next/_SUCCESS").exists() ||
            new File(s"$ck/commits/$next").exists()
          if (advanced) {
            val t = nowUs()
            val counts = offsetCounts(ck, next)
            batches.synchronized { batches += ((next, t, counts)) }
            next += 1
          }
        }
        walDirs.indices.foreach { i =>
          val f = new File(walDirs(i), "_acked")
          val len = f.length()
          if (len != ackLen(i) && len > 0) {
            ackLen(i) = len
            val t = nowUs()
            val last = Files.readAllLines(f.toPath, UTF_8).asScala.lastOption
            last.flatMap(fileCounts).foreach { c =>
              acks(i).synchronized { acks(i) += ((t, c)) }
            }
          }
        }
        Thread.sleep(1)
      }
    }

    def finish(): Unit = { running = false; join() }
  }

  // ------------------------------------------------------------ tracing

  def durations(p: StreamingQueryProgress): Map[String, Double] =
    p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  /** Layer metrics of the engine's micro-batch loop and of the stateful
    * assembly operator, from the query's own progress reports, plus the
    * job/task numbers the [[SparkTrace]] attributed to the query's batches.
    */
  def streamingLayers(q: StreamingQuery, tr: SparkTrace): Map[String, Double] = {
    tr.settle()
    val ps = dataBatches(q)
    def dur(k: String) = median(ps.map(p => durations(p).getOrElse(k, 0.0)))
    val ops = ps.flatMap(_.stateOperators.headOption)
    val batchIds = ps.map(_.batchId).toSet
    val gaps = ps.map { p =>
      durations(p).getOrElse("addBatch", 0.0) - tr.jobWallMs(p.batchId)
    }
    Map(
      "sources.latest_offset_ms" -> dur("latestOffset"),
      "sources.get_batch_ms" -> dur("getBatch"),
      "streaming.engine.query_planning_ms" -> dur("queryPlanning"),
      "streaming.engine.wal_commit_ms" -> dur("walCommit"),
      "streaming.engine.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.engine.trigger_ms" -> dur("triggerExecution"),
      "streaming.engine.jobs_per_batch" -> median(ps.map(p => tr.jobCount(p.batchId).toDouble)),
      "streaming.engine.tasks_per_batch" -> median(ps.map(p => tr.taskCount(p.batchId).toDouble)),
      "streaming.engine.driver_gap_ms" -> median(gaps),
      "streaming.assembly.state_rows" ->
        ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.assembly.state_bytes" ->
        ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.assembly.state_commit_ms" -> median(ops.map(_.commitTimeMs.toDouble)),
      "streaming.assembly.rows_dropped_by_watermark" ->
        ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "spark.task_time_ms" -> tr.taskTimeMs(batchIds),
      "spark.shuffle_write_bytes" -> tr.shuffleBytes(batchIds),
      "spark.task_skew" -> tr.taskSkew(batchIds),
      "streaming.sink.bytes_written" -> tr.outputBytes(batchIds))
  }

  // -------------------------------------------------------------- modes

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work"); val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1"); val cores = a("cores").toInt
    val spark = session(s"local[$cores]", work)
    val result = mutable.LinkedHashMap[String, Any]()
    val spans = new Spans
    try {
      result("calibration") = calibrate(spark)
      a("mode") match {
        case "backfill" => Backfill.run(spark, work, traced, spans, result)
        case "neardup" => NearDup.run(spark, work, seconds, traced, spans, result)
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      }
      result("peak_rss_mb") = peakRssMb()
      a.get("trace-out").foreach(spans.write)
      Files.write(Paths.get(work, "harness.json"), json(result).getBytes(UTF_8))
    } finally SparkSession.getActiveSession.orElse(Some(spark)).foreach(_.stop())
  }

  /** Host calibration pair: a single-thread xorshift chain (steps/s) and
    * a whole-stage-codegen range sum over all cores (rows/s). Context for
    * comparing runs made hours apart on a host whose speed drifts.
    */
  def calibrate(spark: SparkSession): Map[String, Double] = {
    var x = 0x9E3779B97F4A7C15L
    val n = 100000000L
    val t0 = System.nanoTime()
    var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val st = n / ((System.nanoTime() - t0) / 1e9)
    require(x != 0L)
    val rows = 200000000L
    spark.range(1000000L).selectExpr("sum(id)").collect() // first-job start-up
    val t1 = System.nanoTime()
    spark.range(rows).selectExpr("sum(id ^ 2654435761L)").collect()
    Map("xorshift_per_s" -> st, "range_sum_rows_per_s" -> rows / ((System.nanoTime() - t1) / 1e9))
  }

  /** Warm pipeline starts per timed run; the set-up metric is their median. */
  val SetupRepeats = 3

  /** Phases of a run: (traced?, index); see the class comment. */
  def phasePlan(traced: Boolean): Seq[Boolean] =
    if (traced) Seq(false, true, false) else Seq(false)

  /** Makes `n + 1` set-up starts (`start` returns the seconds one took) and
    * returns (the first, the other `n`). The first is the JVM's first start
    * of this pipeline (class loading, first code generation), a warm-up that
    * is reported as context only.
    */
  def setups(n: Int)(start: Int => Double): (Double, Seq[Double]) = {
    val all = (0 to n).map(start)
    (all.head, all.tail)
  }

  /** Seconds from `t0` (a `System.nanoTime`) to now. */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** CDC pipeline set-up: start on a fresh checkpoint with the same staged
  * segments, until that first batch is visible in the sink.
  */
object CdcSetup {
  import Harness._

  def run(spark: SparkSession, work: String, segs: Seq[String], n: Int): (Double, Seq[Double]) =
    setups(n) { i =>
      val base = s"$work/setup$i"
      val wal = mkdirs(s"$base/wal")
      segs.zipWithIndex.foreach { case (seg, j) => stage(seg, wal, f"seg-$j%08d.json") }
      val t0 = System.nanoTime()
      val q = startCdc(spark, walSource(spark, wal, None), s"$base/out", s"$base/ck")
      try {
        waitUntil("setup batch", 120000)(new File(s"$base/out/batch_id=0/_SUCCESS").exists())
        since(t0)
      } finally q.stop()
    }
}

/** `cdc_backfill`: a staged backlog admitted `maxFilesPerTrigger` segments
  * at a time, plus one segment range redelivered at its original WAL
  * positions once the source has acked past it (the at-least-once replay a
  * reconnecting replication source performs).
  */
object Backfill {
  import Harness._

  final case class Plan(segments: Int, maxFiles: Int, replayFrom: Int, replayTo: Int,
      prefixSegments: Int)

  def plan(work: String): Plan = {
    val m = new String(Files.readAllBytes(Paths.get(work, "input", "backfill.json")), UTF_8)
    def num(k: String) = s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(m).get.group(1).toInt
    Plan(num("segments"), num("max_files_per_trigger"), num("replay_from"),
      num("replay_to"), num("prefix_segments"))
  }

  def segName(i: Int): String = f"seg-$i%08d.json"

  /** Replayed segment `j` of the replay directory is segment `from + j`:
    * shift its file index back so every line keeps its original position.
    */
  def replaySource(spark: SparkSession, dir: String, pl: Plan): DataFrame = {
    val ws = col("wal_start")
    walSource(spark, dir, Some(pl.maxFiles)).select(
      shiftleft(shiftrightunsigned(ws, 32) + lit(pl.replayFrom.toLong), 32)
        .bitwiseOR(ws.bitwiseAND(lit(0xffffffffL))).as("wal_start"),
      col("data"))
  }

  /** One drain of the whole backlog; returns the phase record. */
  def drain(spark: SparkSession, work: String, pl: Plan, p: Int,
      tr: Option[SparkTrace]): mutable.Map[String, Any] = {
    val wal = s"$work/input/wal"
    new File(wal, "_acked").delete()
    val replay = mkdirs(s"$work/replay_$p"); val out = s"$work/out_$p"; val ck = s"$work/ck_$p"
    val raw = walSource(spark, wal, Some(pl.maxFiles)).union(replaySource(spark, replay, pl))
    val gc0 = gcTotals()
    val t0 = nowUs()
    val q = startCdc(spark, raw, out, ck)
    val poller = new SinkPoller(out, ck, Seq(wal, replay)); poller.start()
    val phase = mutable.LinkedHashMap[String, Any]("traced" -> tr.isDefined, "start_us" -> t0)
    try {
      // stage the redelivery while the batch after the one that acked the
      // range is running, so it always lands in the batch after that
      waitUntil("replay point", 170000)(poller.lastAck(0) >= pl.replayTo || !q.isActive)
      val acking = poller.visible.find(_._3.headOption.exists(_ >= pl.replayTo)).map(_._1)
        .getOrElse(poller.visible.last._1)
      waitUntil("next batch", 170000)(new File(s"$ck/offsets/${acking + 1}").exists() ||
        poller.lastCounts.headOption.exists(_ >= pl.segments) || !q.isActive)
      phase("replay_staged_us") = nowUs()
      (pl.replayFrom until pl.replayTo).foreach { i =>
        stage(s"$wal/${segName(i)}", replay, segName(i - pl.replayFrom))
      }
      val want = Seq(pl.segments, pl.replayTo - pl.replayFrom)
      waitUntil("drain", 170000)(
        poller.lastCounts.zip(want).forall { case (c, w) => c >= w } || !q.isActive)
      q.exception.foreach(e => throw e)
    } finally { q.stop(); poller.finish() }
    phase("batches") = poller.visible
    phase("acks") = poller.acks.head.toList
    phase("batch_ms") = dataBatches(q).map(p => durations(p).getOrElse("triggerExecution", 0.0))
    phase("input_rows") = dataBatches(q).map(_.numInputRows).sum
    phase("first_batch_rows") = dataBatches(q).head.numInputRows
    tr.foreach { t =>
      val gc1 = gcTotals()
      phase("layers") = streamingLayers(q, t) ++ Map(
        "jvm.gc_ms" -> (gc1._1 - gc0._1).toDouble,
        "jvm.gc_count" -> (gc1._2 - gc0._2).toDouble)
      t.batchSpans(q)
    }
    phase
  }

  def run(spark: SparkSession, work: String, traced: Boolean, spans: Spans,
      result: mutable.Map[String, Any]): Unit = {
    val pl = plan(work)
    // set-up starts on the backlog's first segment; a traced run reports
    // no set-up time and only warms up
    val (cold, warm) = CdcSetup.run(spark, work, Seq(s"$work/input/wal/${segName(0)}"),
      if (traced) 0 else SetupRepeats)
    result("setup_cold_s") = cold
    result("setup_s") = warm
    result("phases") = phasePlan(traced).zipWithIndex.map { case (tracePhase, p) =>
      if (!tracePhase) drain(spark, work, pl, p, None)
      else {
        val t = SparkTrace.attach(spark, spans)
        try drain(spark, work, pl, p, Some(t)) finally t.detach()
      }
    }
    if (traced) {
      result("prefix_s") = prefixes(spark, work, pl, spans)
      spark.stop()
      // single-thread baseline: the same prefix subset through the full
      // pipeline in local[1]
      val one = session("local[1]", work)
      val dir = prefixDir(work, pl)
      new File(dir, "_acked").delete()
      val t0 = System.nanoTime()
      val q = startCdc(one, walSource(one, dir, Some(pl.maxFiles)), s"$work/local1_out", s"$work/local1_ck")
      try q.processAllAvailable() finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      result("local1_drain_s") = secs
      result("local1_rows") = one.read.parquet(s"$work/local1_out").count()
    }
  }

  def prefixDir(work: String, pl: Plan): String = {
    val dir = s"$work/prefix_in"
    if (!new File(dir).exists()) {
      mkdirs(dir)
      (0 until pl.prefixSegments).foreach(i =>
        Files.copy(Paths.get(s"$work/input/wal/${segName(i)}"), Paths.get(dir, segName(i))))
    }
    dir
  }

  /** Wall seconds of the CDC pipeline cut after each layer, over the
    * prefix subset: source only, + decodeHeader, + assembleRaw,
    * + decodePayload/normalize, + OrderedSink. A layer's self time is the
    * difference between consecutive cuts.
    */
  def prefixes(spark: SparkSession, work: String, pl: Plan, spans: Spans): Seq[Double] = {
    val dir = prefixDir(work, pl)
    (0 to 4).map { cut =>
      new File(dir, "_acked").delete()
      val raw = walSource(spark, dir, Some(pl.maxFiles))
      val header = Wal2Json.decodeHeader(raw)
      lazy val assembled = StreamingTxAssembly.assembleRaw(spark,
        header.withWatermark("action_time", dedupWindow), Some(dedupWindow),
        dedupTtl = dedupWindow).toDF()
      lazy val normalized = Transform.normalize(Wal2Json.decodePayload(assembled)
        .withColumn("is_begin", lit(false)).withColumn("is_commit", lit(false)), cfg.database)
      val df = cut match {
        case 0 => raw
        case 1 => header
        case 2 => assembled
        case _ => normalized
      }
      val out = s"$work/prefix_out_$cut"
      val w = df.writeStream.option("checkpointLocation", s"$work/prefix_ck_$cut")
        .trigger(Trigger.ProcessingTime(cfg.batchTimeout.toMillis, MILLISECONDS))
      val t0 = nowUs()
      val q =
        if (cut < 4) w.format("noop").start()
        else w.foreachBatch { (b: Dataset[Row], id: Long) =>
          OrderedSink.writeBatch(b.toDF(), id, out) }.start()
      try q.processAllAvailable() finally q.stop()
      val t1 = nowUs()
      spans.add(s"prefix.$cut", t0, t1, "prefixes", Map.empty)
      (t1 - t0) / 1e6
    }
  }
}

/** `neardup_ingest`: a closed loop feeding one document batch per trigger
  * into `DedupIndex.startClusterMaintenance`; the next batch is staged only
  * once the previous one has been processed.
  */
object NearDup {
  import Harness._

  def batchFiles(work: String): Seq[String] =
    Option(new File(s"$work/input/docs").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("b\\d+\\.parquet")).sorted

  def start(spark: SparkSession, in: String, name: String, ck: String): StreamingQuery = {
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1L).parquet(in)
    DedupIndex.startClusterMaintenance(spark, stream, "doc_id", "text", name, ck)
  }

  def filesUnder(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.map(f => if (f.isDirectory) filesUnder(f) else 1L).sum

  def run(spark: SparkSession, work: String, seconds: Double, traced: Boolean,
      spans: Spans, result: mutable.Map[String, Any]): Unit = {
    val (cold, warm) = setups(if (traced) 0 else SetupRepeats) { i =>
      val in = mkdirs(s"$work/setup$i/in")
      stage(s"$work/input/docs/setup.parquet", in, "s.parquet")
      val t0 = System.nanoTime()
      val q = start(spark, in, s"ndsetup$i", s"$work/setup$i/ck")
      try { q.processAllAvailable(); since(t0) } finally q.stop()
    }
    result("setup_cold_s") = cold
    result("setup_s") = warm
    val files = batchFiles(work)
    val warehouse = new File(s"$work/warehouse")
    result("phases") = phasePlan(traced).zipWithIndex.map {
      case (tracePhase, p) =>
        val in = mkdirs(s"$work/nd_in_$p"); val name = s"nd$p"
        val tr = if (tracePhase) Some(SparkTrace.attach(spark, spans)) else None
        val gc0 = gcTotals()
        // the first batch (with the query's start) is left out of the loop
        stage(s"$work/input/docs/${files.head}", in, files.head)
        val q = start(spark, in, name, s"$work/nd_ck_$p")
        val lat = mutable.ArrayBuffer.empty[Double]
        val written = mutable.ArrayBuffer.empty[Double]
        var t0 = 0L
        try {
          q.processAllAvailable()
          t0 = System.nanoTime()
          // at least two batches; then only a batch expected (from the last
          // one) to end within `seconds`
          var i = 1
          while (i < files.size &&
              (i < 3 || (System.nanoTime() - t0) / 1e9 + lat.last / 1000 <= seconds)) {
            val before = if (tracePhase) filesUnder(warehouse) else 0L
            val s = System.nanoTime()
            stage(s"$work/input/docs/${files(i)}", in, files(i))
            q.processAllAvailable()
            lat += (System.nanoTime() - s) / 1e6
            if (tracePhase) written += (filesUnder(warehouse) - before).toDouble
            i += 1
          }
          q.exception.foreach(e => throw e)
        } finally q.stop()
        val phase = mutable.LinkedHashMap[String, Any]("traced" -> tracePhase,
          "batch_ms" -> lat.toList, "wall_s" -> (System.nanoTime() - t0) / 1e9)
        spark.table(s"${name}_clusters").select("id", "cluster").coalesce(1)
          .write.parquet(s"$work/clusters_$p")
        tr.foreach { t =>
          t.detach()
          val gc1 = gcTotals()
          val ps = dataBatches(q)
          val ids = ps.map(_.batchId)
          t.settle()
          val changelog = spark.table(s"${name}_changelog").count().toDouble
          phase("layers") = Map(
            "ops.dedupindex.batch_ms" -> median(ps.map(p => durations(p).getOrElse("addBatch", 0.0))),
            "ops.dedupindex.jobs_per_batch" -> median(ids.map(b => t.jobCount(b).toDouble)),
            "ops.dedupindex.driver_gap_ms" -> median(ps.map(p =>
              durations(p).getOrElse("addBatch", 0.0) - t.jobWallMs(p.batchId))),
            "ops.dedupindex.task_time_ms" -> median(ids.map(b => t.taskTimeMs(Set(b)))),
            "ops.dedupindex.files_written" -> median(written.toSeq),
            "ops.dedupindex.changelog_rows" -> changelog / math.max(1, ids.size),
            "spark.task_time_ms" -> t.taskTimeMs(ids.toSet),
            "spark.shuffle_write_bytes" -> t.shuffleBytes(ids.toSet),
            "spark.task_skew" -> t.taskSkew(ids.toSet),
            "streaming.engine.query_planning_ms" ->
              median(ps.map(p => durations(p).getOrElse("queryPlanning", 0.0))),
            "streaming.engine.trigger_ms" ->
              median(ps.map(p => durations(p).getOrElse("triggerExecution", 0.0))),
            "streaming.engine.jobs_per_batch" -> median(ids.map(b => t.jobCount(b).toDouble)),
            "streaming.engine.tasks_per_batch" -> median(ids.map(b => t.taskCount(b).toDouble)),
            "jvm.gc_ms" -> (gc1._1 - gc0._1).toDouble,
            "jvm.gc_count" -> (gc1._2 - gc0._2).toDouble)
          t.batchSpans(q)
        }
        phase
    }
  }
}
