package graft.perfbench

import graft.tools.Curate
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.json4s._

/** `curate`: the `Curate` front door with its defaults (gate on,
  * maintenance every 8 batches, warm start) follows an input directory;
  * one seeded batch file is dropped at a time and the next waits until
  * that micro-batch has committed. */
final class CurateBench(spark: SparkSession, spec: JValue, work: String,
    rec: Rec, tr: Trace) {
  import Main._

  private val SetupReps = 3
  private val root = Paths.get(work, "curate").toAbsolutePath.toString
  private val input = Paths.get(root, "in")
  private val batchDir = dataPath(spec, "batches")
  private val perBatch = int(spec, "per_batch")

  private val cfg = Curate.Config(inputDir = input.toString, root = root,
    out = s"$root/out")

  // stage boundaries from the pipeline's onStage seam (traced run only)
  @volatile private var lastMark = 0L
  private val stageMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def onStage(stage: String): Unit = if (tr.on) {
    val t = System.nanoTime()
    stageMs(stage) = stageMs.getOrElse(stage, 0.0) + (t - lastMark) / 1e6
    lastMark = t
  }

  private def drop(b: Int): Unit = {
    val name = f"batch-$b%05d.parquet"
    // the file source ignores dot-files: write hidden, then rename in
    val tmp = input.resolve("." + name)
    Files.copy(batchDir.resolve(name), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, input.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def start(): StreamingQuery = Curate.run(spark, cfg, onStage _)

  def run(budgetNs: Long): Map[String, Any] = {
    Files.createDirectories(input)
    // bootstrap batch: trains the semantic quantizer and seeds every
    // history store, so set-up below warm-starts over real history
    var q = start()
    drop(0)
    q.processAllAvailable()
    q.stop()
    for (k <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      q = tr.span("streaming.curate_start")(start())
      q.processAllAvailable()
      rec.setup += (System.nanoTime() - t0) / 1e9
      if (k < SetupReps - 1) q.stop()
    }
    val total = int(spec, "n_batches")
    val deadline = System.nanoTime() + budgetNs
    var b = 1
    var wallNs = 0L
    tr.take()
    try {
      while (b < total && (b == 1 || System.nanoTime() < deadline)) {
        drop(b)
        stageMs.clear()
        val t0 = System.nanoTime()
        lastMark = t0
        tr.span("streaming.curate_batch", b)(q.processAllAvailable())
        val dt = System.nanoTime() - t0
        wallNs += dt
        rec.attempted += 1
        rec.add("batch_ms", dt / 1e6)
        if (q.exception.isDefined) rec.fail(s"batch $b: ${q.exception.get}")
        if (tr.on) {
          val ev = tr.take()
          stageMs.foreach { case (s, ms) => rec.add(s"curate.${s}_ms", ms) }
          if (!stageMs.contains("maintain")) rec.add("curate.maintain_ms", 0.0)
          rec.add("curate.jobs_per_batch", ev.jobs.size)
          rec.add("curate.shuffle_bytes_per_batch", ev.shuffleBytes.toDouble)
          rec.add("curate.spill_bytes_per_batch", ev.spill.toDouble)
        }
        b += 1
      }
    } finally q.stop()
    val batches = b - 1
    rec.values("docs") = (batches * perBatch).toDouble
    rec.values("wall_ms") = wallNs / 1e6
    tr.progress.synchronized {
      tr.progress.foreach { case (trig, add) =>
        rec.add("streaming.curate_trigger_ms", trig.toDouble)
        rec.add("streaming.curate_addbatch_ms", add.toDouble)
      }
    }
    val stores = s"$root/curate/stores"
    val extra = scala.collection.mutable.Map[String, Any](
      "batches" -> batches, "out" -> cfg.out)
    if (tr.on) {
      val exact = new graft.store.FingerprintIndex(spark, s"$stores/exact")
      val near = new graft.store.NearDupIndex(spark, s"$stores/neardup")
      val grams = new graft.store.GramIndex(spark, s"$stores/grams")
      val cells = new graft.operators.CellIndex(spark, s"$stores/cells")
      val t0 = System.nanoTime()
      exact.warm(); near.warm(); grams.warm(); cells.warm()
      rec.values("curate.warm_ms") = Rec.ms(t0)
      val cs = cells.stats()
      extra("stores") = Map(
        "store.exact.live_dirs" -> exact.stats().liveDirs,
        "store.neardup.live_dirs" -> near.stats().liveDirs,
        "store.grams.live_dirs" -> grams.stats().liveDirs,
        "store.cells.files" -> (cs.vectorFiles + cs.codeFiles))
    }
    extra.toMap
  }
}
