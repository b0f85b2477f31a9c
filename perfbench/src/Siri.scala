package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.etl.SiriSnapshotEtl
import graft.sources.{Brotli, SnapshotStorage}
import graft.streaming.SnapshotStream

/** `siri_pipeline`: the paper's job on one star, in the order an
  * operator runs it.
  *
  *  1. Backlog: `Cli process-snapshots` (readRaw -> run -> writeTables)
  *     over a seeded tree of brotli minute files into an empty star,
  *     the same range re-run (idempotent reload), then `validateFields`
  *     over the on-disk star.
  *  2. Daemon: the shipped `SnapshotStream.daemon` (what `Cli
  *     start-daemon` runs) continues that star with a ProcessingTime
  *     trigger longer than a batch, so batches start on Spark's trigger
  *     grid (multiples of the interval since the epoch).
  *     `perfbench/run.py`, a separate process, starts landing just after
  *     a grid point and lands one json-lines snapshot every P seconds by
  *     atomic rename (open loop), recording when each was due and
  *     landed. A snapshot's freshness runs from when it was due to the
  *     commit of the micro-batch that read it: the batch of every file
  *     comes from the file source's checkpoint log, the commit time from
  *     the listener's progress events.
  *
  * The star is checked after every phase: row counts equal what the
  * generator implies, the reload changes nothing, `validateFields`
  * returns no rows, and at the end no dimension key repeats. */
object Siri {
  case class Landed(name: String, dueMs: Long, landMs: Long)

  def landed(work: Path): Seq[Landed] =
    Json.parse(Files.readString(work.resolve("landed.json"))).asInstanceOf[Seq[Map[String, Any]]]
      .map(m => Landed(m("name").toString, m("due_ms").asInstanceOf[Double].toLong,
        m("land_ms").asInstanceOf[Double].toLong))

  /** File name -> micro-batch id, from the file source's metadata log. */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val Entry = raw""""path":"([^"]+)".*?"batchId":(\d+)""".r
    if (!Files.exists(dir)) Map.empty
    else Files.list(dir).iterator().asScala.filter(f => !f.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .flatMap(l => Entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  def feed(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema("snapshot_id STRING, json STRING").json(dir.toString)

  private def noop(df: DataFrame): Double =
    Sys.timed(df.write.format("noop").mode("overwrite").save())._2

  /** Self time of each ETL stage: every stage is written to a `noop`
    * sink on its own, less the stage it reads from. Column pruning can
    * make a stage cheaper than its parent; the difference then reads
    * negative and is reported as measured. */
  def stageLayers(raw: => DataFrame): Seq[(String, Double, String)] = {
    val read = noop(raw)
    val parsed = noop(SiriSnapshotEtl.parseVisits(raw))
    def self(f: DataFrame => DataFrame) = noop(f(SiriSnapshotEtl.parseVisits(raw))) - parsed
    val dims = self(SiriSnapshotEtl.routes(_)) + self(SiriSnapshotEtl.stops(_)) +
      self(SiriSnapshotEtl.rides(_)) + self(SiriSnapshotEtl.rideStops(_))
    Seq(("sources.read_raw_s", read, "s"), ("etl.parse_s", parsed - read, "s"),
      ("etl.dims_s", dims, "s"), ("etl.facts_s", self(SiriSnapshotEtl.vehicleLocations), "s"),
      ("etl.snapshot_stats_s", self(SiriSnapshotEtl.snapshotStats), "s"))
  }

  case class Backlog(load: Double, reload: Double, validate: Double, starBytes: Long,
      filesWritten: Long, dimBytesRead: Long, errors: Seq[String]) {
    def wall: Double = load + reload + validate
  }

  private def dimBytes(star: Path): Long = Star.Dims.map(d => Sys.dataFiles(star.resolve(d._1))._2).sum

  /** Phase 1 into a fresh `star`. */
  def backlog(c: Ctx, spark: SparkSession, star: Path): Backlog = {
    val raw = c.data.resolve("raw").toString
    Sys.deleteTree(star)
    val t0 = System.currentTimeMillis()
    val (_, load) = Sys.timed(Star.load(spark, raw, star))
    val first = Star.counts(spark, star)
    val bytes = Sys.dataFiles(star)._2
    val files1 = Sys.dataFiles(star, t0)._1
    val dims = dimBytes(star)
    val t1 = System.currentTimeMillis()
    val (_, reload) = Sys.timed(Star.load(spark, raw, star))
    val files2 = Sys.dataFiles(star, t1)._1
    val second = Star.counts(spark, star)
    val (bad, validate) = Sys.timed(Star.validate(spark, SnapshotStorage.readRaw(spark, raw), star))
    val errors = Star.mismatches(first, Star.expected(c, "backlog")).map("load " + _) ++
      Star.mismatches(second, first).map("reload " + _) ++
      (if (bad != 0) Seq(s"validateFields after reload: $bad mismatch rows") else Nil)
    Backlog(load, reload, validate, bytes, files1 + files2, dims, errors)
  }

  case class Daemon(fresh: Seq[Double], batches: Seq[Batch], lands: Seq[Landed],
      byFile: Map[String, Long], wall: Double, startMs: Long, errors: Seq[String])

  /** Phase 2 on `star`, landing into `<work>/landing`. */
  def daemon(c: Ctx, spark: SparkSession, star: Path, progress: Progress): Daemon = {
    val landing = c.work.resolve("landing")
    val ckpt = c.work.resolve("ckpt")
    Files.createDirectories(landing)
    val startMs = System.currentTimeMillis()
    val q = SnapshotStream.daemon(spark, landing.toString, star.toString, ckpt.toString,
      Trigger.ProcessingTime(c.triggerMs))
    Files.writeString(c.work.resolve("daemon_ready"), "ready\n")
    // the generator lands for the run's seconds; then drain what landed
    val done = c.work.resolve("landed.json")
    val deadline = Sys.now() + c.seconds + 2 * c.triggerMs / 1e3 + 120
    while (!Files.exists(done) && q.isActive && Sys.now() < deadline) Thread.sleep(50)
    val lands = if (Files.exists(done)) landed(c.work) else Nil
    def consumed = progress.batches.map(_.inputRows).sum
    val drainBy = Sys.now() + 90
    while (q.isActive && consumed < lands.size && Sys.now() < drainBy) Thread.sleep(50)
    while (q.isActive && q.status.isTriggerActive && Sys.now() < drainBy) Thread.sleep(20)
    val streamError = q.exception.map(_.getMessage)
    q.stop()
    val wall = (System.currentTimeMillis() - startMs) / 1e3

    val batches = progress.batches.filter(_.inputRows > 0).sortBy(_.id)
    val commit = batches.map(b => b.id -> b.commitMs).toMap
    val byFile = fileBatches(ckpt)
    val fresh = lands.flatMap(l => byFile.get(l.name).flatMap(commit.get).map(cm => (cm - l.dueMs) / 1e3))
    val counts = Star.counts(spark, star)
    val bad = Star.validate(spark, feed(spark, landing), star)
    val want = c.exp("feed", "snapshots")
    val errors = streamError.map("stream failed: " + _).toSeq ++
      (if (lands.size != want) Seq(s"landed ${lands.size} of $want snapshots") else Nil) ++
      (if (fresh.size != lands.size) Seq(s"${lands.size - fresh.size} snapshots never committed") else Nil) ++
      Star.mismatches(counts, Star.expected(c, "feed", "with_backlog")).map("daemon " + _) ++
      // dims only grow, so a key the reload or the daemon duplicated is still here
      Star.duplicates(spark, star) ++
      (if (bad != 0) Seq(s"validateFields after daemon: $bad mismatch rows") else Nil)
    Daemon(fresh, batches, lands, byFile, wall, startMs, errors)
  }

  /** The write split of `writeTables`, from the probe's call-site buckets. */
  def writeLayers(p: Probe): Seq[(String, Double, String)] = {
    val b = Seq("dims", "facts", "stats_errors")
    Seq(("sources.write_dims_s", p.bucketWallS("dims"), "s"),
      ("sources.write_facts_s", p.bucketWallS("facts"), "s"),
      ("sources.write_stats_errors_s", p.bucketWallS("stats_errors"), "s"),
      ("sources.write_jobs", b.map(p.bucket(_).jobs).sum.toDouble, "count"),
      ("sources.bytes_written", b.map(p.bucket(_).bytesWritten).sum.toDouble, "B"))
  }

  def run(c: Ctx): Result = {
    val (spark, setups) = Sys.setUp(3)(Sys.etlSession(c.cores))(Star.warm(c, _))
    val star = c.work.resolve("star")
    val progress = new Progress
    spark.streams.addListener(progress)
    val visits = c.exp("backlog", "visits").toDouble
    val snapshots = c.exp("backlog", "snapshots") + c.exp("feed", "snapshots")

    val probe = if (c.trace) Some(Probe.install(spark)) else None
    val g0 = Sys.gcSeconds()
    val (b, backlogWall) = Sys.timed(backlog(c, spark, star))
    val (d, daemonWall) = Sys.timed(daemon(c, spark, star, progress))
    probe.foreach(_.settle())

    val errors = b.errors ++ d.errors
    val fresh = d.fresh
    val (tailP, tailV) = if (fresh.nonEmpty) Stats.tail(fresh) else (100, Double.NaN)
    val failed = if (errors.nonEmpty) snapshots else 0L
    val feedVisits = (c.exp("feed", "with_backlog", "visits") - visits).toDouble
    val starBytes = Sys.dataFiles(star)._2
    val totalVisits = c.exp("feed", "with_backlog", "visits").toDouble
    val batchS = d.batches.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3)
    val e2e = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("throughput_per_s", visits / b.load, "1/s"),
      ("latency_p50_s", if (fresh.nonEmpty) Stats.median(fresh) else Double.NaN, "s"),
      ("latency_tail_s", tailV, "s"),
      ("peak_rss_mb", Sys.peakRssMb(), "MB"))

    val layers = probe.toSeq.flatMap { p =>
      def dur(k: String) = Stats.median(d.batches.map(_.durations.getOrElse(k, 0L) / 1e3))
      val jobs = p.jobsPerBatch
      // snapshots landed but not yet committed, as seen by each land
      val commits = d.lands.flatMap(l => d.byFile.get(l.name))
        .flatMap(id => d.batches.find(_.id == id).map(_.commitMs)).sorted
      val backlogMax = d.lands.map(l =>
        d.lands.count(_.landMs <= l.landMs) - commits.count(_ <= l.landMs)).foldLeft(0)(math.max)
      val measured = writeLayers(p) ++ Seq(
        ("sources.files_written", (b.filesWritten + Sys.dataFiles(star, d.startMs)._1).toDouble, "count"),
        // dimension bytes each writeTables call re-reads: the backlog's
        // reload, then every daemon batch against the final dim size
        ("sources.dim_bytes_read", (b.dimBytesRead + dimBytes(star) * d.batches.size).toDouble, "B"),
        ("sources.star_bytes_per_visit", starBytes / totalVisits, "B"),
        ("sources.reload_visits_per_s", visits / b.reload, "1/s"),
        ("etl.validate_s", b.validate, "s"),
        ("etl.validate_rows", 2.0 * c.exp("backlog", "facts"), "count"),
        ("streaming.batch_s_p50", Stats.median(batchS), "s"),
        ("streaming.batch_s_tail", Stats.tail(batchS)._2, "s"),
        ("streaming.add_batch_s", dur("addBatch"), "s"),
        ("streaming.query_planning_s", dur("queryPlanning"), "s"),
        ("streaming.wal_commit_s", dur("walCommit"), "s"),
        ("streaming.latest_offset_s", dur("latestOffset"), "s"),
        ("streaming.jobs_per_batch",
          Stats.median(d.batches.map(x => jobs.getOrElse(x.id, 0).toDouble)), "count"),
        ("streaming.backlog_max", backlogMax.toDouble, "count")) ++
        Layers.spark(p.counters, backlogWall + daemonWall, c.cores, Sys.gcSeconds() - g0)
      spark.sparkContext.removeSparkListener(p)
      // tracing overhead: the backlog's reload once more without and
      // once with a fresh listener, both on a warm JVM
      val rawDir = c.data.resolve("raw").toString
      val untraced = Sys.timed(Star.load(spark, rawDir, star))._2
      val again = Probe.install(spark)
      val traced = Sys.timed(Star.load(spark, rawDir, star))._2
      spark.sparkContext.removeSparkListener(again)
      val files = Files.walk(c.data.resolve("raw")).iterator().asScala
        .filter(_.toString.endsWith(".br")).map(Files.readAllBytes).toSeq
      val (decoded, decodeS) = Sys.timed(files.map(x => Brotli.decompress(x).length.toLong).sum)
      measured ++ Seq(
        ("sources.brotli_decode_s", decodeS, "s"),
        ("sources.brotli_mb_per_s", decoded / 1e6 / decodeS, "MB/s"),
        ("trace.overhead_s", traced - untraced, "s")) ++
        stageLayers(SnapshotStorage.readRaw(spark, rawDir))
    }
    Result(errors.isEmpty && fresh.nonEmpty, snapshots, failed, e2e ++ layers, Map(
      "backlog_visits_per_s" -> visits / b.load, "reload_visits_per_s" -> visits / b.reload,
      "validate_s" -> b.validate, "backlog_star_bytes_per_visit" -> b.starBytes / visits,
      "star_bytes_per_visit" -> starBytes / totalVisits,
      "freshness_p50_s" -> e2e(2)._2, "freshness_tail_s" -> tailV, "tail_percentile" -> tailP,
      "freshness_samples" -> fresh.size, "daemon_visits_per_batch_s" -> feedVisits / batchS.sum,
      "batch_s_rows" -> d.batches.map(x => Seq(x.durations.getOrElse("triggerExecution", 0L) / 1e3, x.inputRows)),
      "land_late_ms_max" -> d.lands.map(l => l.landMs - l.dueMs).foldLeft(0L)(math.max),
      "trigger_ms" -> c.triggerMs, "error_rate" -> failed.toDouble / snapshots,
      "errors" -> errors, "setup_walls_s" -> setups, "input" -> c.expected,
      "phase_walls_s" -> Map("backlog_with_checks" -> backlogWall, "daemon_with_checks" -> daemonWall)) ++
      probe.map(p => "call_sites" -> p.callSites))
  }
}
