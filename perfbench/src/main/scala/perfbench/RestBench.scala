package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.GraftCatalog
import graft.commit.{MetadataUpdate, Requirement}
import graft.meta._
import graft.server.RestServer

/** The catalog-plane workloads: a [[RestServer]] on loopback over a
  * POSIX warehouse, driven by closed-loop clients that each hold one
  * keep-alive HTTP/1.1 connection and block on every reply.
  *
  * Inputs (tables, appended files, each client's operations) come from
  * the spec the benchmark generates from its seed; this file only
  * executes them and records what happened. */
object RestBench {
  implicit private val formats: Formats = DefaultFormats

  /** Client operation codes, as the spec encodes them. */
  val Load = 0; val List_ = 1; val Head = 2; val Commit = 3

  final case class Append(files: List[String], stats: List[List[Long]], ts: Long)
  final case class TableSpec(ns: String, name: String, uuid: String,
                             appends: List[Append])

  private val Fields = List(FieldDef(1, "id", "long", required = true),
    FieldDef(2, "name", "string", required = false),
    FieldDef(3, "created_at", "timestamp", required = false))

  /** Three columns of stats per file from the spec's six numbers:
    * id range, name range (rendered from the same numbers), timestamp
    * range, then null count and row count. */
  def colStats(s: List[Long]): List[ColStatDef] = {
    val List(idMin, idMax, tsMin, tsMax, nulls, rows) = s
    List(ColStatDef("id", idMin.toString, idMax.toString, 0, Some(1), Some(rows)),
      ColStatDef("name", f"n$idMin%07d", f"n$idMax%07d", nulls, Some(2), Some(rows)),
      ColStatDef("created_at", tsMin.toString, tsMax.toString, nulls, Some(3), Some(rows)))
  }

  def tables(spec: JValue): Vector[TableSpec] =
    (spec \ "tables").extract[List[TableSpec]].toVector

  def catalogOver(dir: Path, tracer: Option[Tracer]): GraftCatalog = {
    val c = tracer.map(new TracedCatalog(_)).getOrElse(new GraftCatalog)
    c.initialize("bench", new CaseInsensitiveStringMap(
      Map("warehouse" -> dir.toString).asJava))
    c
  }

  /** Build the starting warehouse through the catalog's own API: create
    * each namespace and table, then commit each spec append as one
    * `append-files` snapshot. */
  def buildWarehouse(dir: Path, ts: Vector[TableSpec]): Unit = {
    val cat = catalogOver(dir, None)
    ts.map(_.ns).distinct.foreach(ns =>
      cat.createNamespace(Array(ns), new java.util.HashMap[String, String]()))
    ts.foreach { t =>
      val store = cat.metadataStore
      store.createTable(Seq(t.ns), t.name, TableMetadata.empty(
        uuid = t.uuid, location = store.dataDir(Seq(t.ns), t.name),
        schema = SchemaDef(0, Fields), spec = PartitionSpecDef(0, Nil),
        order = SortOrderDef(0, Nil), props = Map.empty))
      t.appends.foreach { a =>
        cat.commit(Identifier.of(Array(t.ns), t.name),
          Seq(Requirement.AssertTableUuid(t.uuid)),
          Seq(MetadataUpdate.AppendFiles(a.files, a.ts,
            a.files.zip(a.stats).map { case (f, s) => f -> colStats(s) }.toMap)))
      }
    }
  }

  def dirBytes(dir: Path): Long = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }

  /** One finished client operation. Times are nanoTime readings. */
  final case class Op(client: Int, kind: Int, start: Long, end: Long,
                      ok: Boolean, reqBytes: Int, respBytes: Int)

  /** A keep-alive HTTP/1.1 client bound to one server. */
  final class Client(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    private val base = s"http://127.0.0.1:$port/v1/namespaces/"

    def send(method: String, path: String, body: String = null)
        : (Int, String, Int) = {
      val b = HttpRequest.newBuilder(URI.create(base + path))
      val req = if (body == null) b.method(method, HttpRequest.BodyPublishers.noBody())
        else b.header("Content-Type", "application/json")
          .method(method, HttpRequest.BodyPublishers.ofString(body))
      val resp = http.send(req.build(), HttpResponse.BodyHandlers.ofByteArray())
      (resp.statusCode(), new String(resp.body(), "UTF-8"), resp.body().length)
    }
  }

  /** Does a loadTable response carry this uuid and current snapshot? */
  def loadMatches(body: String, uuid: String, snapshot: Option[Long]): Boolean =
    body.contains("\"tableUuid\":\"" + uuid + "\"") && (snapshot match {
      case None => true
      case Some(id) =>
        val key = "\"currentSnapshotId\":" + id
        val i = body.indexOf(key)
        i >= 0 && !body.charAt(i + key.length).isDigit
    })

  private def quote(s: String): String = "\"" + s + "\""

  def appendBody(uuid: String, a: Append): String = {
    val stats = a.files.zip(a.stats).map { case (f, s) =>
      quote(f) + ":" + colStats(s).map { c =>
        s"""{"name":${quote(c.name)},"min":${quote(c.min)},"max":${quote(c.max)},""" +
          s""""nulls":${c.nulls},"fieldId":${c.fieldId.get},"rows":${c.rows.get}}"""
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    s"""{"requirements":[{"type":"assert-table-uuid","uuid":${quote(uuid)}}],""" +
      s""""updates":[{"action":"append-files","files":${a.files.map(quote).mkString("[", ",", "]")},""" +
      s""""timestamp-ms":${a.ts},"file-stats":$stats}]}"""
  }

  def propertyBody(uuid: String, key: String, value: String): String =
    s"""{"requirements":[{"type":"assert-table-uuid","uuid":${quote(uuid)}}],""" +
      s""""updates":[{"action":"set-properties","updates":{${quote(key)}:${quote(value)}}}]}"""

  def clientKey(c: Int): String = s"perfbench.client.$c"

  /** Run `n` client threads to completion and return their operations. */
  def runClients(n: Int)(body: (Int, ConcurrentLinkedQueue[Op]) => Unit): Seq[Op] = {
    val ops = new ConcurrentLinkedQueue[Op]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => try body(c, ops) catch { case e: Throwable => errors.add(e) },
        s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
    ops.asScala.toSeq
  }

  def opJson(o: Op, t0: Long): List[Any] =
    List(o.client, o.kind, (o.start - t0) / 1000, (o.end - t0) / 1000,
      if (o.ok) 1 else 0, o.reqBytes, o.respBytes)

  /** Final state of one table, read back through the server. */
  def finalState(cl: Client, t: TableSpec): Map[String, Any] = {
    val (code, body, _) = cl.send("GET", s"${t.ns}/tables/${t.name}")
    if (code != 200) return Map("table" -> t.name, "status" -> code)
    val m = JsonMethods.parse(body) \ "metadata"
    val current = (m \ "currentSnapshotId").extractOpt[Long]
    val snaps = (m \ "snapshots").extract[List[JValue]]
    val files = snaps.find(s => (s \ "snapshotId").extractOpt[Long] == current)
      .map(s => (s \ "files").extract[List[String]]).getOrElse(Nil)
    Map("table" -> t.name, "status" -> code, "uuid" -> (m \ "tableUuid").extract[String],
      "current" -> current.getOrElse(-1L), "snapshots" -> snaps.size,
      "files" -> files, "properties" -> (m \ "properties").extract[Map[String, String]])
  }

  // ---- rest-read ----------------------------------------------------------

  /** Unmeasured client traffic before the first measured phase, so the
    * server's code paths are compiled before they are timed. */
  val WarmupSeconds = 3.0

  /** Each client cycles through its own operation list until the deadline;
    * `acks` collects every acknowledged property write in client order. */
  def readPhase(dir: Path, ts: Vector[TableSpec], clientOps: Vector[Vector[(Int, Int)]],
                expected: Map[String, Long], seconds: Double, tracer: Option[Tracer],
                phase: String, acks: ConcurrentLinkedQueue[List[Any]]): Map[String, Any] = {
    val bytes0 = dirBytes(dir)
    val server = new RestServer(catalogOver(dir, tracer))
    val port = server.start()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val ops = try runClients(clientOps.size) { (c, out) =>
      val cl = new Client(port)
      val mine = clientOps(c)
      var i = 0
      while (System.nanoTime() < deadline) {
        val (kind, ti) = mine(i % mine.size)
        val t = ts(ti)
        val start = System.nanoTime()
        val (ok, req, resp) = kind match {
          case Load =>
            val (code, body, n) = cl.send("GET", s"${t.ns}/tables/${t.name}")
            (code == 200 && loadMatches(body, t.uuid, expected.get(t.name)), 0, n)
          case List_ =>
            val (code, body, n) = cl.send("GET", s"${t.ns}/tables")
            (code == 200 && body.contains("\"name\":\"" + t.name + "\""), 0, n)
          case Head =>
            val (code, _, n) = cl.send("HEAD", s"${t.ns}/tables/${t.name}")
            (code == 204, 0, n)
          case Commit =>
            val value = s"$phase-$c-$i"
            val body = propertyBody(t.uuid, clientKey(c), value)
            val (code, resp, n) = cl.send("POST", s"${t.ns}/tables/${t.name}", body)
            val ok = code == 200 && loadMatches(resp, t.uuid, expected.get(t.name))
            if (code == 200) acks.add(List(c, t.name, value))
            (ok, body.length, n)
        }
        out.add(Op(c, kind, start, System.nanoTime(), ok, req, resp))
        i += 1
      }
    } finally server.stop()
    val wall = (ops.map(_.end).max - t0) / 1e9
    Map("phase" -> phase, "wall_s" -> wall,
      "ops" -> ops.sortBy(_.start).map(opJson(_, t0)),
      "spans" -> tracer.map(spanJson(_, t0)).getOrElse(Nil),
      "bytes_before" -> bytes0, "bytes_after" -> dirBytes(dir))
  }

  def restRead(spec: JValue, work: Path, seconds: Double, trace: Boolean,
               setups: Int): Map[String, Any] = {
    val ts = tables(spec)
    val clientOps = (spec \ "clients").extract[List[List[List[Int]]]]
      .map(_.map(op => (op(0), op(1))).toVector).toVector
    // set up several times and keep the last warehouse: the median build
    // time is the setup figure, and a one-off stall cannot set it
    val setupTimes = (1 to setups).map { i =>
      val dir = work.resolve(s"warehouse-$i")
      val t0 = System.nanoTime()
      buildWarehouse(dir, ts)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < setups) MetadataStore.deleteRecursive(dir)
      s
    }
    val dir = work.resolve(s"warehouse-$setups")
    val setupCat = catalogOver(dir, None)
    val expected = ts.map { t =>
      t.name -> setupCat.metadataStore.load(Seq(t.ns), t.name)._1.currentSnapshotId.get
    }.toMap
    val acks = new ConcurrentLinkedQueue[List[Any]]()
    def phase(name: String, secs: Double, tracer: Option[Tracer]) =
      readPhase(dir, ts, clientOps, expected, secs, tracer, name, acks)
    val phases = phase("warmup", WarmupSeconds, None) +: (
      if (!trace) Seq(phase("untraced", seconds, None))
      else Seq(phase("untraced", seconds / 4, None),
        phase("traced", seconds, Some(new Tracer)), phase("untraced", seconds / 4, None)))
    val server = new RestServer(catalogOver(dir, None))
    val port = server.start()
    val finals = try { val cl = new Client(port); ts.map(finalState(cl, _)) }
      finally server.stop()
    val serde = if (trace) serdeTimes(setupCat, ts.take(8)) else Map.empty
    Map("setup_s" -> setupTimes, "phases" -> phases,
      "expected_snapshot" -> expected, "acks" -> acks.asScala.toList,
      "final" -> finals, "serde" -> serde)
  }

  // ---- rest-commit --------------------------------------------------------

  final case class Cycle(table: Int, files: List[String], stats: List[List[Long]], ts: Long)

  /** One round over a freshly built starting warehouse: a fresh server,
    * and every client's fixed list of load-then-append cycles. */
  def commitRound(dir: Path, ts: Vector[TableSpec], cycles: Vector[List[Cycle]],
                  tracer: Option[Tracer]): Map[String, Any] = {
    val bytes0 = dirBytes(dir)
    val server = new RestServer(catalogOver(dir, tracer))
    val port = server.start()
    val acked = new ConcurrentLinkedQueue[List[Any]]()
    val t0 = System.nanoTime()
    val (ops, spans, finals) = try {
      val ops = runClients(cycles.size) { (c, out) =>
        val cl = new Client(port)
        cycles(c).foreach { cy =>
          val t = ts(cy.table)
          val s0 = System.nanoTime()
          val (code, body, n) = cl.send("GET", s"${t.ns}/tables/${t.name}")
          out.add(Op(c, Load, s0, System.nanoTime(),
            code == 200 && loadMatches(body, t.uuid, None), 0, n))
          val a = Append(cy.files, cy.stats, cy.ts)
          val req = appendBody(t.uuid, a)
          val s1 = System.nanoTime()
          val (code2, resp, n2) = cl.send("POST", s"${t.ns}/tables/${t.name}", req)
          val ok = code2 == 200 && loadMatches(resp, t.uuid, None)
          if (code2 == 200) acked.add(List(t.name, cy.files))
          out.add(Op(c, Commit, s1, System.nanoTime(), ok, req.length, n2))
        }
      }
      // spans are taken before the final reads, which are not client work
      val spans = tracer.map(spanJson(_, t0)).getOrElse(Nil)
      (ops, spans, { val cl = new Client(port); ts.map(finalState(cl, _)) })
    } finally server.stop()
    val wall = (ops.map(_.end).max - t0) / 1e9
    Map("wall_s" -> wall, "ops" -> ops.sortBy(_.start).map(opJson(_, t0)),
      "spans" -> spans,
      "acked" -> acked.asScala.toList, "final" -> finals,
      "bytes_before" -> bytes0, "bytes_after" -> dirBytes(dir))
  }

  def restCommit(spec: JValue, work: Path, seconds: Double, trace: Boolean,
                 setups: Int): Map[String, Any] = {
    val ts = tables(spec)
    val cycles = (spec \ "cycles").extract[List[List[Cycle]]].toVector
    var builds = 0
    val setupTimes = Seq.newBuilder[Double]
    def freshWarehouse(): Path = {
      builds += 1
      val dir = work.resolve(s"warehouse-$builds")
      val t0 = System.nanoTime()
      buildWarehouse(dir, ts)
      setupTimes += (System.nanoTime() - t0) / 1e9
      dir
    }
    // extra builds up front so the setup median rests on several builds
    (1 until setups).foreach(_ => MetadataStore.deleteRecursive(freshWarehouse()))
    /** Rounds until `seconds` of measured time have passed (at least one);
      * each round's warehouse is deleted once its state is recorded. */
    def phase(name: String, seconds: Double, traced: Boolean): Map[String, Any] = {
      val rounds = Seq.newBuilder[Map[String, Any]]
      var measured = 0.0
      var n = 0
      while (measured < seconds || n == 0) {
        val dir = freshWarehouse()
        val r = commitRound(dir, ts, cycles, if (traced) Some(new Tracer) else None)
        measured += r("wall_s").asInstanceOf[Double]
        rounds += r
        n += 1
        MetadataStore.deleteRecursive(dir)
      }
      Map("phase" -> name, "rounds" -> rounds.result())
    }
    // one unmeasured round first, so the server's code paths are compiled
    // before they are timed
    val phases = phase("warmup", 0, traced = false) +: (
      if (!trace) Seq(phase("untraced", seconds, traced = false))
      else Seq(phase("untraced", seconds / 4, traced = false),
        phase("traced", seconds, traced = true), phase("untraced", seconds / 4, traced = false)))
    val serde = if (trace) {
      val dir = freshWarehouse()
      try serdeTimes(catalogOver(dir, None), ts) finally MetadataStore.deleteRecursive(dir)
    } else Map.empty
    Map("setup_s" -> setupTimes.result(), "phases" -> phases,
      "setup_files" -> ts.map(t => t.name -> t.appends.flatMap(_.files)).toMap,
      "setup_snapshots" -> ts.map(t => t.name -> t.appends.size).toMap,
      "serde" -> serde)
  }

  // ---- shared ---------------------------------------------------------------

  /** Mean wall of the program's public `TableMetadata` serde on this
    * workload's own documents, after a warm-up pass. */
  def serdeTimes(cat: GraftCatalog, ts: Seq[TableSpec]): Map[String, Any] = {
    val docs = ts.map(t => cat.metadataStore.load(Seq(t.ns), t.name)._1)
    val json = docs.map(TableMetadata.toJson)
    def timeEach[A](xs: Seq[A])(f: A => Any): Double = {
      xs.foreach(f)
      val reps = 5
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => xs.foreach(f))
      (System.nanoTime() - t0) / 1e6 / (reps * xs.size)
    }
    Map("to_json_ms" -> timeEach(docs)(TableMetadata.toJson),
      "from_json_ms" -> timeEach(json)(TableMetadata.fromJson),
      "doc_kb" -> json.map(_.length).sum / 1024.0 / json.size)
  }

  def spanJson(tr: Tracer, t0: Long): Seq[List[Any]] =
    tr.all.map(s => List(s.id, s.parent, s.name, (s.start - t0) / 1000,
      (s.end - t0) / 1000, s.thread, s.kind, s.n))
}
