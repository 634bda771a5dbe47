package graft.perfbench

import graft.api.{ApiServer, ApiV0, ArchiveClient, HttpSession}
import graft.core.{Cursor, DatalakeRecord, Metadata}
import graft.query.ArchiveQuerier
import graft.sources.LocalContentStore
import graft.store.{LatestStore, RecordStore, WorkIdIndex}
import graft.streaming.{DirNotificationQueue, StreamingIngester}
import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable.ArrayBuffer

/** `archive`: bulk-load a base archive, then repeat cycles of
  * push → enqueue → drain (the CLI's `ingest-queue`) followed by reads
  * through `ApiServer` + `ArchiveClient` (the CLI's `serve`), with the
  * CLI's `maintain` sequence after every `maintainEvery` appends. */
final class ArchiveBench(spark: SparkSession, spec: JValue, work: String,
    rec: Rec, tr: Trace) {
  import Main._
  import spark.implicits._

  private val now = long(spec, "now")
  /** Appends between two maintenances: the live-dir bound past which
    * `RecordStore.compactIfNeeded` compacts and `Curate.stats` calls a
    * store fragmented (8), which is also `Curate`'s default
    * `maintenanceEvery`. The set-up's appends count towards it. */
  private val maintainEvery = 8
  private var recordsRoot = ""
  private val DayMs = 86400000L
  private val SetupReps = 3

  /** Times every GET and keeps the bytes, so page latency covers the
    * whole body and the checks can read each page. */
  private final class TimedSession extends HttpSession {
    private val inner = new HttpSession.Default()
    val calls = ArrayBuffer.empty[(String, Int, Array[Byte], Double)]
    val cpu = ArrayBuffer.empty[Double]
    def get(url: String): HttpSession.Response = {
      val c0 = Rec.cpuMs()
      val t0 = System.nanoTime()
      val r = inner.get(url)
      val body = r.bodyBytes()
      calls += ((url, r.status, body, Rec.ms(t0)))
      cpu += Rec.cpuMs() - c0
      HttpSession.Response(r.status, new ByteArrayInputStream(body),
        r.contentType, Some(body.length.toLong))
    }
  }

  private def meta(f: JValue, path: String): Metadata = Metadata.build(Map(
    "id" -> str(f, "id"), "what" -> str(f, "what"), "where" -> str(f, "where"),
    "start" -> Long.box(long(f, "start")),
    "work_id" -> optStr(f, "work_id").orNull,
    "hash" -> "0", "path" -> path) ++
    optLong(f, "end").map(e => "end" -> Long.box(e)))

  /** The base archive as it stands between two maintenances: one bulk
    * load with the work-id index rebuilt over it, then the batches
    * appended since (`appends`), each through the index-maintaining
    * store the way ingest writes, each one more live dir. The latest
    * table gets every file in one upsert. */
  private def bulkLoad(root: String): Unit = {
    def records(files: List[JValue]) = files.flatMap { f =>
      val m = meta(f, s"/archive/${str(f, "id")}")
      DatalakeRecord.listFromMetadata(m, s"file://$root/content/${m.id}/data",
        long(f, "create_time"), long(f, "size"))
    }
    val idx = new WorkIdIndex(spark, s"$root/work-id-index")
    val base = records(arr(spec, "base"))
    val bulk = new RecordStore(spark, s"$root/records")
    bulk.append(base)
    idx.rebuild(bulk)
    val store = new RecordStore(spark, s"$root/records", Some(idx))
    val appended = arr(spec, "appends").map(a => records(arr(a, "files")))
    appended.foreach(store.append)
    new LatestStore(spark, s"$root/latest").upsert(
      (base ++ appended.flatten).map(graft.store.RecordRow.fromCore).toDF())
  }

  /** Day buckets a file's record rows span. */
  private def buckets(f: JValue): Long = {
    val start = long(f, "start")
    optLong(f, "end").getOrElse(start) / DayMs - start / DayMs + 1
  }

  private def notification(url: String): String = {
    val path = url.stripPrefix("file://").stripPrefix("/")
    val msg = ("""{"Records": [{"eventVersion": "2.0", "eventName": """ +
      """"ObjectCreated:Put", "s3": {"bucket": {"name": ""}, """ +
      s""""object": {"key": "$path"}}}]}""").replace("\"", "\\\"")
    s"""{"Type": "Notification", "Message": "$msg"}"""
  }

  def run(budgetNs: Long): Map[String, Any] = {
    val absWork = Paths.get(work).toAbsolutePath.toString
    var root = ""
    for (k <- 0 until SetupReps) {
      root = s"$absWork/wh$k"
      val t0 = System.nanoTime()
      bulkLoad(root)
      rec.setup += (System.nanoTime() - t0) / 1e9
    }
    recordsRoot = s"$root/records"
    // wired as the CLI's serve / ingest-queue / maintain verbs
    val idx = new WorkIdIndex(spark, s"$root/work-id-index")
    val store = new RecordStore(spark, s"$root/records", Some(idx))
    val latest = new LatestStore(spark, s"$root/latest")
    val querier = new ArchiveQuerier(store, Some(latest), useLatestTable = true,
      clock = () => now, workIdIndex = Some(idx))
    val content = new LocalContentStore(s"$root/content")
    val server = new ApiServer(querier, Some(content), 0)
    server.start()
    val session = new TimedSession
    val client = new ArchiveClient(server.baseUrl, Some(session))
    val ingester = new StreamingIngester(spark, content, store, Some(latest),
      Some(s"$root/reports"))
    val queue = new DirNotificationQueue(s"$root/queue")
    val stage = Paths.get(s"$absWork/stage")
    Files.createDirectories(stage)

    val deadline = System.nanoTime() + budgetNs
    var cycle = 0
    var reqId = 0L
    val cycles = arr(spec, "cycles")
    val appended = arr(spec, "appends").size
    // every run goes on at least through its first maintenance
    val firstMaintain = maintainEvery - appended % maintainEvery
    def going = cycle < firstMaintain || System.nanoTime() < deadline
    try {
      while (cycle < cycles.size && going) {
        val c = cycles(cycle)
        val files = arr(c, "files")
        val paths = files.map { f =>
          val p = stage.resolve(str(f, "id") + ".txt")
          Files.write(p, str(f, "content").getBytes("UTF-8"))
          p
        }
        val redeliver = (c \ "redeliver").extract[List[Int]]
        tr.take()
        // ---- write path: push + enqueue + drain ----
        val t0 = System.nanoTime()
        val urls = tr.span("sources.push") {
          files.zip(paths).map { case (f, p) =>
            content.push(p, Map("id" -> str(f, "id"), "what" -> str(f, "what"),
              "where" -> str(f, "where"), "start" -> Long.box(long(f, "start")),
              "work_id" -> optStr(f, "work_id").orNull) ++
              optLong(f, "end").map(e => "end" -> Long.box(e)))._1
          }
        }
        val tPush = System.nanoTime()
        urls.foreach(u => queue.send(notification(u)))
        redeliver.foreach(i => queue.send(notification(urls(i))))
        val drained = tr.span("streaming.drain") {
          ingester.drainQueue(queue, idleTimeoutMs = 0L)
        }
        val batchMs = Rec.ms(t0)
        rec.attempted += 1
        rec.add("ingest_batch_ms", batchMs)
        rec.inc("ingested_files", files.size)
        rec.inc("ingest_ms", batchMs)
        if (drained != urls.size + redeliver.size)
          rec.fail(s"cycle $cycle drained $drained of ${urls.size + redeliver.size}")
        if (tr.on) {
          val ev = tr.take()
          val drainMs = (System.nanoTime() - tPush) / 1e6
          rec.add("sources.push_ms", (tPush - t0) / 1e6)
          rec.add("streaming.drain_ms", drainMs)
          rec.add("streaming.jobs_per_batch", ev.jobs.size)
          def site(cls: String)(s: String) = s.linesIterator
            .find(_.contains("graft.store.")).exists(_.contains(cls))
          rec.add("store.record_jobs_ms", ev.jobMsBySite(site("graft.store.RecordStore")))
          rec.add("store.latest_jobs_ms", ev.jobMsBySite(site("graft.store.LatestStore")))
          rec.add("store.workid_jobs_ms", ev.jobMsBySite(site("graft.store.WorkIdIndex")))
          rec.add("store.driver_ms", drainMs - ev.jobMs)
          // a redelivery is absorbed when its file still has exactly one
          // record row per day bucket after the drain
          val ids = files.map(str(_, "id"))
          val rows = store.records.where(col("metadata.id").isin(ids: _*))
            .groupBy(col("metadata.id")).count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          val absorbed = redeliver.count(i =>
            rows.getOrElse(ids(i), 0L) == buckets(files(i)))
          rec.inc("replay.absorbed", absorbed)
          rec.inc("replay.delivered", urls.size + redeliver.size)
          tr.take()
        }
        // the model learns create_time the way ingest does: the data
        // file's mtime
        files.zip(urls).foreach { case (f, u) =>
          val ct = Files.getLastModifiedTime(Paths.get(u.stripPrefix("file://")))
            .toMillis
          rec.obs += Map("k" -> "ingested", "id" -> str(f, "id"),
            "create_time" -> ct)
        }

        // ---- read path ----
        arr(c, "reads").iterator.takeWhile(_ => going)
          .foreach { r =>
            reqId += 1
            read(r, reqId, client, session, querier)
          }
        if (tr.on) {
          val t1 = System.nanoTime()
          tr.span("store.resolve")(store.records)
          rec.add("store.resolve_ms", Rec.ms(t1))
          // the table the reads of this cycle saw
          val st = store.stats()
          rec.add("store.cells", st.cells)
          rec.add("store.live_dirs", st.liveDirs)
          rec.add("store.files", st.files.toDouble)
        }

        cycle += 1
        if ((appended + cycle) % maintainEvery == 0) {
          tr.take()
          val t2 = System.nanoTime()
          tr.span("store.maintain") {
            store.compact(1)
            idx.rebuild(store)
          }
          rec.add("maintain_ms", Rec.ms(t2))
          if (tr.on) rec.add("store.bytes_rewritten", tr.take().written.toDouble)
        }
      }
    } finally server.stop()
    val st = store.stats()
    Map("cycles" -> cycle,
      "store" -> Map("cells" -> st.cells, "live_dirs" -> st.liveDirs,
        "files" -> st.files, "bytes" -> st.bytes))
  }

  private def pageIds(body: Array[Byte]): Seq[String] =
    arr(JsonMethods.parse(new String(body, "UTF-8")), "records")
      .map(r => str(r \ "metadata", "id"))

  private def code(body: Array[Byte]): String =
    try (JsonMethods.parse(new String(body, "UTF-8")) \ "code")
      .extractOpt[String].getOrElse("")
    catch { case _: Exception => "" }

  private def read(r: JValue, req: Long, client: ArchiveClient,
      session: TimedSession, querier: ArchiveQuerier): Unit = {
    val kind = str(r, "kind")
    val what = optStr(r, "what")
    val where = optStr(r, "where")
    session.calls.clear()
    session.cpu.clear()
    tr.take()
    val outcome: Either[Throwable, Any] =
      try Right(tr.span("api.request", req) {
        kind match {
          case "time" => client.list(what.get, Some(long(r, "start")),
            Some(long(r, "end")), where).size
          case "workid" => client.list(what.get, where = where,
            workId = optStr(r, "work_id")).size
          case "latest" => client.latest(what.get, where.get)
          case "invalid" =>
            val params = (r \ "params").extract[Map[String, String]]
            session.get(s"${client.httpUrl}/v0/archive/files/?" + params.map {
              case (k, v) => s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}"
            }.mkString("&"))
          case "invalid_latest" => session.get(s"${client.httpUrl}/v0/archive/" +
            s"latest/${what.get}/${where.get}?lookback=${str(r, "lookback")}")
          case "invalid_cursor" =>
            val cur = Cursor(Some(long(r, "cursor_bucket")), None, None)
            session.get(s"${client.httpUrl}/v0/archive/files/?what=${what.get}" +
              s"&start=${long(r, "start")}&end=${long(r, "end")}" +
              s"&cursor=${cur.serialized}")
        }
      })
      catch { case e: Exception => Left(e) }
    rec.attempted += 1
    val calls = session.calls.toVector
    val cpu = session.cpu.toVector
    val statuses = calls.map(_._2)
    kind match {
      case "time" | "workid" =>
        cpu.foreach(rec.add("op_cpu_ms", _))
        calls.foreach { c =>
          rec.add("page_ms", c._4)
          rec.add(s"page_${kind}_ms", c._4)
          rec.inc("pages")
          rec.inc("read_ms", c._4)
          if (tr.on) rec.add("api.response_bytes", c._3.length)
        }
        val pages = calls.filter(_._2 == 200).map(c => pageIds(c._3))
        rec.obs += Map("k" -> kind, "req" -> req, "what" -> what, "where" -> where,
          "start" -> optLong(r, "start"), "end" -> optLong(r, "end"),
          "work_id" -> optStr(r, "work_id"), "status" -> statuses,
          "pages" -> pages, "error" -> outcome.left.toOption.map(_.toString))
      case "latest" =>
        calls.foreach { c => rec.add("latest_ms", c._4); rec.inc("read_ms", c._4) }
        rec.inc("pages", calls.size)
        val id = calls.headOption.filter(_._2 == 200).map { c =>
          str(JsonMethods.parse(new String(c._3, "UTF-8")) \ "metadata", "id")
        }
        rec.obs += Map("k" -> "latest", "req" -> req, "what" -> what,
          "where" -> where, "status" -> statuses, "id" -> id)
      case _ =>
        calls.foreach(c => rec.inc("read_ms", c._4))
        rec.obs += Map("k" -> "invalid", "req" -> req, "status" -> statuses,
          "code" -> calls.headOption.map(c => code(c._3)).getOrElse(""),
          "expect" -> str(r, "code"))
    }
    if (tr.on && outcome.isRight) traceDirect(kind, calls, querier)
  }

  /** Traced run only: per-page Spark events of the HTTP requests just made,
    * then the same requests sent to `ArchiveQuerier` directly. */
  private def traceDirect(kind: String,
      calls: Seq[(String, Int, Array[Byte], Double)],
      querier: ArchiveQuerier): Unit = {
    val ev = tr.take()
    val n = math.max(1, calls.size).toDouble
    if (kind == "time" || kind == "workid") {
      ev.qes.foreach { q =>
        rec.add("spark.analysis_ms", q.analysis)
        rec.add("spark.optimize_ms", q.optimize)
        rec.add("spark.plan_ms", q.plan)
        rec.add("spark.exec_ms", q.execMs)
      }
      rec.add("spark.jobs_per_page", ev.jobs.size / n)
      rec.add("spark.tasks_per_page", ev.tasks / n)
      rec.add("scan.files_read_per_page", ev.qes.map(_.files).sum / n)
      rec.add("scan.partitions_read_per_page", ev.qes.map(_.partitions).sum / n)
      var returned = 0
      calls.filter(_._2 == 200).foreach { c =>
        val q = java.net.URI.create(c._1).getRawQuery
        val params = q.split("&").map(_.split("=", 2)).map(a =>
          java.net.URLDecoder.decode(a(0), "UTF-8") ->
            java.net.URLDecoder.decode(a.lift(1).getOrElse(""), "UTF-8")).toMap
        val fq = ApiV0.validateFilesParams(params)
        val t0 = System.nanoTime()
        val page = tr.span(s"query.$kind") {
          fq.workId match {
            case Some(w) => querier.queryByWorkId(w, fq.what, fq.where, fq.cursor)
            case None => querier.queryByTime(fq.start.get, fq.end.get, fq.what,
              fq.where, fq.cursor)
          }
        }
        val ms = Rec.ms(t0)
        returned += page.records.size
        rec.add(s"query.${kind}_page_ms", ms)
        rec.add("api.overhead_page_ms", c._4 - ms)
      }
      rec.add("query.rows_fetched_per_row_returned",
        ev.qes.map(_.scanRows).sum.toDouble / math.max(1, returned))
    } else if (kind == "latest") {
      calls.headOption.foreach { c =>
        val Latest = ".*/latest/([^/?]+)/([^/?]+).*".r
        val Latest(what, where) = c._1
        val t0 = System.nanoTime()
        tr.span("query.latest")(querier.queryLatest(what, where))
        val ms = Rec.ms(t0)
        // served from the latest table unless the walk-back scanned the
        // records table
        val walkedBack = tr.take().qes.exists(_.roots.exists(_.contains(recordsRoot)))
        rec.inc("query.latest_direct")
        if (!walkedBack) rec.inc("query.latest_table_hits")
        rec.add("query.latest_ms", ms)
        rec.add("api.overhead_latest_ms", c._4 - ms)
      }
    }
    tr.take()
  }
}
