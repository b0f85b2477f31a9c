package graftbench

import java.nio.file.{Files, Paths}

/** Benchmark JVM entry point; `perfbench/run.py` builds and launches it.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --data <inputDir> --work <scratchDir> --out <result.json>
  *     [--trigger-ms <ms>] [--sf <tablesDir>] [--expected <file>] [--record 1]
  *
  * Writes one JSON object to `--out`: correct, attempted, failed,
  * metrics (name -> value, unit) and the artifact. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(o("work")).toAbsolutePath
    Files.createDirectories(work)
    val c = Ctx(o("workload"), o("seed").toLong, o("seconds").toDouble, o.get("trace").contains("1"),
      Paths.get(o("data")).toAbsolutePath, work, Runtime.getRuntime.availableProcessors(),
      o.getOrElse("sf", ""), o.getOrElse("trigger-ms", "0").toLong)
    val r = c.workload match {
      case "siri_pipeline" => Siri.run(c)
      case "query_mix" =>
        QueryMix.run(c, Paths.get(o("expected")).toAbsolutePath, o.get("record").contains("1"))
      case w => sys.error(s"unknown workload $w")
    }
    val metrics = r.metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    Files.writeString(Paths.get(o("out")), Json.write(Map("correct" -> r.correct,
      "attempted" -> r.attempted, "failed" -> r.failed, "metrics" -> metrics,
      "artifact" -> r.artifact)) + "\n")
    // streaming shutdown hooks and non-daemon pool threads must not
    // hold the JVM open once the result is on disk
    sys.exit(0)
  }
}
