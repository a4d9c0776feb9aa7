package perfbench

import java.nio.file.{Files, Paths}

/** Entry point the launcher (`perfbench/run.py`) starts in its own JVM.
  * Runs one workload and writes its measurements as JSON; the launcher
  * checks correctness and prints the result line. */
object Harness {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = RunArgs(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("data"), kv("work"), kv("ticks"), kv("out"), kv("cores").toInt, kv("heap"))
    val result = a.workload match {
      case "serve-fit" => ServeFit.run(a)
      case "ingest-mixed" => IngestMixed.run(a)
      case w => Map("status" -> s"unknown workload $w", "attempted" -> 1, "failed" -> 1)
    }
    val spans = result.getOrElse("spans", Nil)
    Files.writeString(Paths.get(a.out + ".spans"), Common.json(spans))
    Files.writeString(Paths.get(a.out), Common.json(result - "spans"))
    // Spark's shutdown hooks and any stray non-daemon thread must not
    // keep the launcher waiting once the measurements are on disk
    System.exit(0)
  }
}
