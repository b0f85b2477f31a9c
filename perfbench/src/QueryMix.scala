package graftbench

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{Caches, GraftSession, SparkEntry}

/** `query_mix`: one client runs a frozen list of `SparkEntry.queries`
  * back to back (closed loop) over the fixed sf0.1 tables, releasing
  * caches between queries exactly as `graft.Bench` does. The tables are
  * the fixed sf0.1 test set and the order is fixed, so the seed changes
  * nothing here: a permuted order moved the median query time by ~14 %
  * from run to run.
  *
  * A query's time is `fn(spark, dir)` (build: the eager jobs operators
  * run before returning) plus its timed action. The action is the
  * result fingerprint, a row count and an order-independent checksum
  * in one aggregate, checked against the recorded values. Unlike
  * Bench's `count()` it computes every output column. */
object QueryMix {

  /** The frozen list: per family the median query of
    * bench/latest_sf0.1.json (graph_pagerank stands in for the graph
    * family's median), plus the named ETL and TPC-H probes. Family
    * maxima and graph_kcore_peel are left out so that one cold pass
    * fits the run budget (see perfbench/README.md). */
  val FamilyMedians: Seq[String] = Seq(
    "ann_ivf", "dedup_bbit_minhash", "embed_bitsign_recall", "etl_missing_minutes",
    "graph_pagerank", "mm_audio_energy", "pipeline_curriculum_order", "profile_orders",
    "q_new_vs_returning", "text_top_bigrams")
  val NamedProbes: Seq[String] = Seq(
    "etl_upsert_bloom", "etl_dim_firstseen", "etl_parse_props",
    "q1_pricing_summary", "q18_having_join")
  val Queries: Seq[String] = FamilyMedians ++ NamedProbes

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case f if f.matches("q\\d+") => "q"
    case f => f
  }

  def session(c: Ctx): SparkSession = {
    val s = GraftSession.build(s"local[${c.cores}]", c.cores, "graftbench")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Directory of the tables `SparkEntry.entry` reads, graft's
    * smallest test scale; the sf0.1 tables sit next to it. */
  def entryDir(s: SparkSession): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(SparkEntry.entry(s).inputFiles.head)).getParent

  /** Bench's warm-up: the flagship entry plus two small queries. */
  def warm(s: SparkSession): Unit = {
    SparkEntry.entry(s).count()
    val tiny = entryDir(s).toString
    Seq("q1_pricing_summary", "etl_parse_props").foreach(q => SparkEntry.queries(q)(s, tiny).count())
    release(s)
  }

  def release(s: SparkSession): Unit = {
    Caches.releaseAll(blocking = true)
    s.catalog.clearCache()
    System.gc()
  }

  /** Row count and an order-independent checksum: the sum of per-row
    * xxhash64 values, doubles rounded to 5 places first so the last-bit
    * noise of a different reduction order cannot flip it. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`").cast("double"), 5)
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(20,0)"))).head()
    (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("0"))
  }

  private def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(expand)
  }

  case class Timing(q: String, wall: Double, build: Double, plan: Double, exec: Double,
      buildJobs: Long, execJobs: Long, nodes: Int, exchanges: Int,
      trackedMax: Int, storageMax: Long)

  def run(c: Ctx, expectedPath: java.nio.file.Path, record: Boolean): Result = {
    val (spark, setups) = Sys.setUp(3)(session(c))(warm)
    val sfDir = if (c.sfDir.nonEmpty) c.sfDir else entryDir(spark).resolveSibling("sf0.1").toString
    require(Files.isDirectory(java.nio.file.Paths.get(sfDir)),
      s"query_mix tables not found at $sfDir (set GRAFT_BENCH_SF_DIR)")
    val expected: Map[String, Any] =
      if (record) Map.empty
      else Json.parse(Files.readString(expectedPath)).asInstanceOf[Map[String, Any]]
    var probe: Option[Probe] = None
    val sc = spark.sparkContext

    def storage(): (Int, Long) =
      (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(_.memSize).sum)

    var failures = Map.empty[String, String]
    var failedOps = 0L
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def onePass(qs: Seq[String] = Queries): Seq[Timing] = qs.map { q =>
      val fn = SparkEntry.queries(q)
      System.err.println(s"[perfbench] $q")
      val t = try {
        val j0 = probe.map(_.counters.jobs)
        val t0 = Sys.now()
        val df = fn(spark, sfDir)
        val t1 = Sys.now()
        val (nodes, exch) =
          if (c.trace) {
            val plan = df.queryExecution.executedPlan
            val all = expand(plan)
            (all.size, all.count(_.isInstanceOf[Exchange]))
          } else (0, 0)
        val t2 = Sys.now()
        probe.foreach(_.settle())
        val j1 = probe.map(_.counters.jobs)
        val (tr1, st1) = storage()
        val t3 = Sys.now()
        val (n, sum) = fingerprint(df)
        val t4 = Sys.now()
        probe.foreach(_.settle())
        val j2 = probe.map(_.counters.jobs)
        val (tr2, st2) = storage()
        if (record) recorded(q) = Map("rows" -> n, "checksum" -> sum)
        else expected.get(q) match {
          case Some(m: Map[String, Any] @unchecked)
              if m("rows").asInstanceOf[Double].toLong == n && m("checksum") == sum => ()
          case other =>
            failedOps += 1
            failures += q -> s"got rows=$n checksum=$sum, recorded $other"
        }
        Some(Timing(q, (t1 - t0) + (t4 - t3), t1 - t0, t2 - t1, t4 - t3,
          (for (a <- j0; b <- j1) yield b - a).getOrElse(0L),
          (for (a <- j1; b <- j2) yield b - a).getOrElse(0L),
          nodes, exch, math.max(tr1, tr2), math.max(st1, st2)))
      } catch {
        case e: Throwable =>
          failedOps += 1
          failures += q -> Option(e.getMessage).getOrElse(e.toString).take(300)
          None
      }
      release(spark)
      t
    }.flatten

    // a traced run installs the listener before its one pass, so the
    // layers describe the same cold pass the timed runs measure
    if (c.trace) probe = Some(Probe.install(spark))
    val g0 = Sys.gcSeconds()
    val start = Sys.now()
    val passes = scala.collection.mutable.ArrayBuffer(onePass())
    if (!c.trace) while (Sys.now() - start < c.seconds) passes += onePass()
    val wall = passes.last.map(t => t.wall + t.plan).sum
    if (record) {
      Files.writeString(expectedPath, Json.write(recorded) + "\n")
    }

    val totals = passes.map(_.map(_.wall).sum).toSeq
    val perQuery = passes.flatten.groupBy(_.q).map { case (q, ts) => q -> Stats.median(ts.map(_.wall).toSeq) }
    val samples = passes.flatten.map(_.wall).toSeq
    val (tailP, tailV) = Stats.tail(samples)
    val attempted = passes.size.toLong * Queries.size
    val failed = failedOps
    val e2e = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("throughput_per_s", Queries.size / Stats.median(totals), "1/s"),
      ("latency_p50_s", Stats.median(samples), "s"),
      ("latency_tail_s", tailV, "s"),
      ("peak_rss_mb", Sys.peakRssMb(), "MB"))
    val layers = probe.toSeq.flatMap { p =>
      p.settle()
      val d = p.counters
      val ts = passes.last
      val fams = ts.groupBy(t => family(t.q))
      Seq(
        ("query.build_s", ts.map(_.build).sum, "s"), ("query.plan_s", ts.map(_.plan).sum, "s"),
        ("query.exec_s", ts.map(_.exec).sum, "s"),
        ("query.build_jobs", ts.map(_.buildJobs).sum.toDouble, "count"),
        ("query.exec_jobs", ts.map(_.execJobs).sum.toDouble, "count"),
        ("query.plan_nodes", ts.map(_.nodes).sum.toDouble, "count"),
        ("query.exchanges", ts.map(_.exchanges).sum.toDouble, "count"),
        ("caches.tracked_max", passes.flatten.map(_.trackedMax).max.toDouble, "count"),
        ("caches.storage_mem_bytes_max", passes.flatten.map(_.storageMax).max.toDouble, "B")) ++
        Families.flatMap { f =>
          val fs = fams.getOrElse(f, Nil)
          Seq(("build_jobs", fs.map(_.buildJobs).sum.toDouble), ("exec_jobs", fs.map(_.execJobs).sum.toDouble),
            ("plan_nodes", fs.map(_.nodes).sum.toDouble), ("exchanges", fs.map(_.exchanges).sum.toDouble))
            .map { case (k, v) => (s"query.$f.$k", v, "count") }
        } ++ Layers.spark(d, wall, c.cores, Sys.gcSeconds() - g0) :+ {
        // tracing overhead: the named ETL and TPC-H probes, warm, once
        // without and once with a fresh listener
        sc.removeSparkListener(p)
        probe = None
        val untraced = onePass(NamedProbes).map(_.wall).sum
        probe = Some(Probe.install(spark))
        val traced = onePass(NamedProbes).map(_.wall).sum
        sc.removeSparkListener(probe.get)
        ("trace.overhead_s", traced - untraced, "s")
      }
    }
    Result(failures.isEmpty, attempted, failed, e2e ++ layers, Map(
      "query_total_s" -> Stats.median(totals), "query_geomean_s" -> Stats.geomean(perQuery.values.toSeq),
      "pass_totals_s" -> totals, "per_query_s" -> perQuery, "tail_percentile" -> tailP,
      "samples" -> samples.size, "setup_walls_s" -> setups,
      "error_rate" -> failed.toDouble / attempted, "failures" -> failures, "sf_dir" -> sfDir))
  }

  val Families: Seq[String] = Queries.map(family).distinct.sorted
}
