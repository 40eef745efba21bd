package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark JVM entry point, started by `perfbench/run.py`:
  *
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cores> [selftest]`
  *
  * Reads the generator's files from `workDir`, runs the workload and
  * prints one line `PERFBENCH {json}` with the metrics, the operations
  * attempted and failed; a traced run also writes `spans.jsonl`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1", argv(4),
      argv(5).toInt, if (argv.length > 6) argv(6) else "")
    Common.installHeapWatch()
    a.selftest match {
      case "drop" => KinesisProbe.dropNth = 5
      case "alter" => KinesisProbe.alterNth = 5
      case _ => ()
    }
    val r = a.workload match {
      case "live_http" => Streams.liveHttp(a)
      case "backfill_file" => Streams.backfillFile(a)
      case "lake_archive" => Streams.lakeArchive(a)
      case "gate_suite" => Gates.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val (rss, heap) = (Common.peakRssMb, Common.peakHeapMb)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    if (a.trace) writeSpans(a)
    val e2e = r.e2e ++ Seq(("peak_rss_mb", rss, "MB"), ("peak_heap_mb", heap, "MB"))
    r.notes.foreach(n => println("PERFBENCH-NOTE " + n))
    println("PERFBENCH " + json(r, e2e))
    System.out.flush()
    System.exit(0)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  private def obj(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def json(r: Result, e2e: Seq[(String, Double, String)]): String =
    s"""{"attempted":${r.attempted},"failed":${r.failed},"e2e":${obj(e2e)},""" +
      s""""layers":${obj(r.layers)}}"""

  private def writeSpans(a: Args): Unit = {
    val spans = Trace.spans.asScala.toSeq.sortBy(_.startNs)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      f"""{"name":"${s.name}","start_ms":${(s.startNs - t0) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - t0) / 1e6}%.3f,"parent":${s.parent},"trace":${s.trace}}"""
    }
    Files.write(Paths.get(a.work, "spans.jsonl"), lines.mkString("\n").getBytes(UTF_8))
  }
}
