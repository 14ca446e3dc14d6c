package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Benchmark entry point: runs one workload and writes its result as JSON
  * to `--out`. The launcher (`run.py`) generates the inputs, runs the
  * checks made apart from the JVM and prints the result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val result = cfg.workload match {
      case "lake_roundtrip" => Lake.run(cfg)
      case "service_small_pages" => Service.run(cfg, valuesPerPage = 500)
      case "service_large_pages" => Service.run(cfg, valuesPerPage = 65536)
      case "analytics_sample" => Analytics.run(cfg)
      case other => sys.error(s"unknown workload '$other'")
    }
    Files.write(cfg.out.toPath, result.toJson.getBytes(UTF_8))
    // the HTTP server's and Spark's pools are shut down; exit promptly
    // rather than wait for their idle threads to time out
    sys.exit(0)
  }
}
