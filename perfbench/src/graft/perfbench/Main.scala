package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark JVM entry point; `perfbench/run.py` builds and launches it.
  *
  *   Main <workload> <specDir> <workDir> <seconds> <trace 0|1> <cores> <out.json>
  *
  * The session is built the way `graft.tools.Cli` builds it: local[cores],
  * shuffle partitions = cores, UTC, UI off, and no benchmark-only confs.
  * The workload replays the inputs `perfbench/gen.py` wrote to `specDir`,
  * keeps every store it creates under `workDir`, and writes its raw
  * samples, counters and check observations to `out.json`. */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, specDir, workDir, seconds, trace, cores, out) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // data paths in the spec are relative to its directory
    val spec = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(specDir, "spec.json")), "UTF-8")) merge
      JObject("dir" -> JString(specDir))
    val rec = new Rec
    val tr = new Trace(spark, trace == "1")
    val budgetNs = (seconds.toDouble * 1e9).toLong
    val extra: Map[String, Any] = workload match {
      case "archive" => new ArchiveBench(spark, spec, workDir, rec, tr).run(budgetNs)
      case "curate" => new CurateBench(spark, spec, workDir, rec, tr).run(budgetNs)
      case "battery" => new BatteryBench(spark, spec, workDir, rec, tr).run()
      case other => sys.error(s"unknown workload $other")
    }
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).filter(_ > 0).sum
    val layers = if (tr.on) Map("self_ms" -> tr.selfMsByLayer) else Map.empty
    tr.writeSpans(s"$workDir/spans.jsonl")
    Files.write(Paths.get(out), rec.json(extra ++ layers ++ Map(
      "jvm.gc_ms" -> gcMs.toDouble, "jvm.peak_rss_mb" -> peakRssMb))
      .getBytes("UTF-8"))
    spark.stop()
  }

  private def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else {
      val src = scala.io.Source.fromFile(status.toFile)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    }
  }

  // ---- spec helpers shared by the workloads ----
  implicit val formats: Formats = DefaultFormats
  def str(j: JValue, k: String): String = (j \ k).extract[String]
  def long(j: JValue, k: String): Long = (j \ k).extract[Long]
  def int(j: JValue, k: String): Int = (j \ k).extract[Int]
  def optStr(j: JValue, k: String): Option[String] = (j \ k).extractOpt[String]
  def optLong(j: JValue, k: String): Option[Long] = (j \ k).extractOpt[Long]
  def dataPath(spec: JValue, k: String): java.nio.file.Path =
    Paths.get(str(spec, "dir"), str(spec, k)).toAbsolutePath
  def arr(j: JValue, k: String): List[JValue] = j \ k match {
    case JArray(xs) => xs
    case _ => Nil
  }
}
