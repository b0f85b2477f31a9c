package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.SiriSnapshotEtl
import graft.sources.SnapshotStorage

/** The on-disk star schema and its correctness checks. */
object Star {
  /** Dimension table -> (natural key, generator tally name). */
  val Dims: Seq[(String, Seq[String], String)] = Seq(
    ("siri_routes", Seq("operator_ref", "line_ref"), "routes"),
    ("siri_stops", Seq("code"), "stops"),
    ("siri_rides", Seq("operator_ref", "line_ref", "journey_ref", "vehicle_ref"), "rides"),
    ("siri_ride_stops",
      Seq("operator_ref", "line_ref", "journey_ref", "vehicle_ref", "stop_point_ref", "order"),
      "ride_stops"))

  /** Star table -> generator tally name for the row count it must hold. */
  val Tables: Seq[(String, String)] = Dims.map(d => d._1 -> d._3) ++ Seq(
    "siri_vehicle_locations" -> "facts", "parse_errors" -> "parse_errors",
    "siri_snapshots" -> "snapshots")

  def read(spark: SparkSession, dir: Path, table: String): DataFrame =
    spark.read.parquet(dir.resolve(table).toString)

  /** Row count per table, plus the number of `error` status rows. */
  def counts(spark: SparkSession, dir: Path): Map[String, Long] =
    Tables.map { case (t, k) => k -> read(spark, dir, t).count() }.toMap +
      ("error_snapshots" -> read(spark, dir, "siri_snapshots")
        .filter(col("etl_status") === "error").count())

  /** Every count the generator implies that the star does not hold. */
  def mismatches(got: Map[String, Long], want: Map[String, Long]): Seq[String] =
    want.toSeq.sortBy(_._1).collect {
      case (k, v) if got.get(k) != Some(v) => s"$k: star has ${got.getOrElse(k, -1L)}, input implies $v"
    }

  /** Dimension tables holding a natural key more than once. */
  def duplicates(spark: SparkSession, dir: Path): Seq[String] = Dims.flatMap { case (t, keys, _) =>
    val dupes = read(spark, dir, t).groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).count()
    if (dupes > 0) Some(s"$t: $dupes duplicate keys") else None
  }

  /** `validate-snapshots` over the on-disk star: a fresh parse of `raw`
    * reconciled field by field against the facts of the same snapshots
    * joined back to their dims. Returns the number of mismatch rows. */
  def validate(spark: SparkSession, raw: DataFrame, dir: Path): Long = {
    val facts = read(spark, dir, "siri_vehicle_locations")
      .join(raw.select("snapshot_id").distinct(), Seq("snapshot_id"), "left_semi")
    SiriSnapshotEtl.validateFields(SiriSnapshotEtl.run(raw).visits, facts,
      read(spark, dir, "siri_ride_stops"), read(spark, dir, "siri_rides"),
      read(spark, dir, "siri_stops")).count()
  }

  /** The tally the generator wrote for `section` (e.g. backlog). */
  def expected(c: Ctx, section: String*): Map[String, Long] =
    (Tables.map(_._2) :+ "error_snapshots").map(k => k -> c.exp(section :+ k: _*)).toMap

  /** `Cli process-snapshots <rawDir> <outDir>`: readRaw -> run -> writeTables. */
  def load(spark: SparkSession, rawDir: String, out: Path): Unit =
    SnapshotStorage.writeTables(SiriSnapshotEtl.run(SnapshotStorage.readRaw(spark, rawDir)), out.toString)

  /** Set-up warm-up: load the two-minute warm-up tree (its own fleet
    * and day) into a throwaway star, so that the timed load does not
    * carry the JIT's first pass over decode, parse and the writers. */
  def warm(c: Ctx, spark: SparkSession): Unit = {
    val out = c.work.resolve("warm-star")
    load(spark, c.data.resolve("warm").toString, out)
    Sys.deleteTree(out)
  }
}
