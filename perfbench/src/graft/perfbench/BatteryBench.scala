package graft.perfbench

import graft.SparkEntry
import graft.queries._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._

/** `battery`: every `SparkEntry.queries` entry once over the generated
  * tables. The timed execution writes the result as parquet, and that
  * same output is what the DuckDB oracle check reads afterwards. */
final class BatteryBench(spark: SparkSession, spec: JValue, work: String,
    rec: Rec, tr: Trace) {
  import Main._

  private val SetupReps = 5
  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val modules: Seq[(String, Set[String])] = Seq(
    "Archive" -> ArchiveQueries.queries.keySet,
    "Analytics" -> AnalyticsQueries.queries.keySet,
    "Text" -> TextQueries.queries.keySet,
    "Vector" -> VectorQueries.queries.keySet,
    "Pipeline" -> PipelineQueries.queries.keySet,
    "Temporal" -> TemporalQueries.queries.keySet,
    "Scalar" -> ScalarQueries.queries.keySet,
    "Curation" -> CurationQueries.queries.keySet)

  /** Runs the fixed subset once; unlike the looping workloads it takes
    * no time budget. */
  def run(): Map[String, Any] = {
    val dir = dataPath(spec, "tables").toString
    val out = Paths.get(work, "results").toAbsolutePath.toString
    // set-up: a fresh session with the SQL functions registered and
    // every table's base plan built (Tables caches per session)
    var s: SparkSession = null
    for (_ <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      s = spark.newSession()
      graft.functions.functions.register(s)
      Tables.foreach(t => graft.queries.Tables.read(s, dir, t))
      rec.setup += (System.nanoTime() - t0) / 1e9
    }
    tr.watch(s)
    Files.write(Paths.get(work, "oracle_sql.json"),
      Rec.json(SparkEntry.oracleSql).getBytes("UTF-8"))
    // a fixed subset fits the run budget: every `stride`-th query by name
    // within each module, plus the operator-heavy queries the spec names
    val stride = int(spec, "stride")
    val hot = (spec \ "hot").extract[Set[String]]
    val chosen = modules.flatMap { case (_, names) =>
      names.toSeq.sorted.zipWithIndex.collect {
        case (q, i) if i % stride == 0 || hot(q) => q
      }
    }.toSet
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => chosen(q._1))
    tr.take()
    for ((name, fn) <- queries) {
      rec.attempted += 1
      val c0 = Rec.cpuMs()
      val t0 = System.nanoTime()
      try {
        val df = tr.span("queries.construct", rec.attempted)(fn(s, dir))
        val t1 = System.nanoTime()
        val construct = tr.take()
        tr.span("operators.execute", rec.attempted) {
          df.write.mode("overwrite").parquet(s"$out/$name")
        }
        val wall = Rec.ms(t0)
        rec.add("query_ms", wall)
        rec.add("op_cpu_ms", Rec.cpuMs() - c0)
        rec.obs += Map("k" -> "query", "name" -> name, "ms" -> wall)
        if (tr.on) {
          val ev = tr.take()
          val m = modules.find(_._2.contains(name)).map(_._1).getOrElse("Other")
          val plan = ev.qes.map(q => q.analysis + q.optimize + q.plan).sum / 1e3
          val jobs = ev.jobs.size + construct.jobs.size
          rec.inc(s"battery.$m.construct_s", (t1 - t0) / 1e9)
          rec.inc(s"battery.$m.plan_s", plan)
          rec.inc(s"battery.$m.exec_s", wall / 1e3 - (t1 - t0) / 1e9 - plan)
          rec.inc(s"battery.$m.jobs", jobs)
          rec.inc("battery.jobs_construct", construct.jobs.size)
          rec.inc("battery.shuffle_bytes",
            (ev.shuffleBytes + construct.shuffleBytes).toDouble)
          rec.inc("battery.spill_bytes", (ev.spill + construct.spill).toDouble)
          rec.values(s"battery.${name}_s") = wall / 1e3
          rec.values(s"battery.$name.jobs") = jobs.toDouble
        }
      } catch {
        case e: Exception => rec.fail(s"$name: ${e.getMessage}".take(300))
      } finally {
        // the Bench discipline: one query's pins never slow the next
        s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        s.catalog.clearCache()
      }
    }
    Map("results" -> out, "oracle" -> Paths.get(work, "oracle_sql.json")
      .toAbsolutePath.toString)
  }
}
