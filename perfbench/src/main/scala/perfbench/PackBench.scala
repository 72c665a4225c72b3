package perfbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The query-plane workload: the program's query pack, each query built
  * by its own module function and every output column materialized to a
  * noop sink. A run does the whole setup first, then rounds of the given
  * query list until the measuring time is used up. */
object PackBench {

  /** Module families, from each module object's public `queries` keys. */
  lazy val families: Seq[(String, Set[String])] = Seq(
    "ops.relational" -> graft.ops.Relational.queries.keySet,
    "ops.windows" -> graft.ops.Windows.queries.keySet,
    "ops.scalars" -> graft.ops.Scalars.queries.keySet,
    "ops.catalog_queries" -> graft.ops.CatalogQueries.queries.keySet,
    "ops.extended" -> graft.ops.Extended.queries.keySet,
    "llm.dedup" -> graft.llm.Dedup.queries.keySet,
    "llm.similarity" -> graft.llm.Similarity.queries.keySet,
    "llm.text_analysis" -> graft.llm.TextAnalysis.queries.keySet,
    "llm.multimodal" -> graft.llm.Multimodal.queries.keySet,
    "llm.curation" -> graft.llm.Curation.queries.keySet,
    "stream.streaming" -> graft.stream.Streaming.queries.keySet)

  def familyOf(q: String): String =
    families.find(_._2.contains(q)).map(_._1).getOrElse("unknown")

  val TagKey = "perfbench.tag"

  /** Job, stage and task totals per query tag. Tags ride on the jobs'
    * local properties, so attribution does not depend on event timing. */
  final class Counters extends SparkListener {
    // jobs, stages, tasks, task ns, shuffle read, shuffle write, spill,
    // peak execution memory (max over tasks), failed tasks
    val byTag = new ConcurrentHashMap[String, Array[Long]]()
    private val stageTag = new ConcurrentHashMap[Int, String]()
    private def of(tag: String) = byTag.computeIfAbsent(tag, _ => new Array[Long](9))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
        of(tag)(0) += 1
        e.stageInfos.foreach(s => stageTag.put(s.stageId, tag))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageTag.get(e.stageInfo.stageId)).foreach(of(_)(1) += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(e.stageId)).foreach { tag =>
        val a = of(tag)
        a(2) += 1
        Option(e.taskMetrics).foreach { m =>
          a(3) += m.executorRunTime * 1000000L
          a(4) += m.shuffleReadMetrics.totalBytesRead
          a(5) += m.shuffleWriteMetrics.bytesWritten
          a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(7) = math.max(a(7), m.peakExecutionMemory)
        }
        if (e.reason != Success) a(8) += 1
      }
  }

  /** Catalyst phase summaries of every query execution that finished. */
  final class Phases extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[(String, Long, Long)]()
    private def add(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (p, s) => seen.add((p, s.startTimeMs, s.endTimeMs)) }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  final case class Run(round: Int, name: String, startMs: Long, endMs: Long,
                       constructNs: Long, totalNs: Long, rows: Long, error: String)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every setup step the pack depends on, run unconditionally and timed
    * one by one. */
  def setup(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    def timed(name: String)(body: => Any): (String, Double) = {
      val t0 = System.nanoTime()
      body
      name -> (System.nanoTime() - t0) / 1e9
    }
    Seq(
      timed("warehouses_s") {
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings").foreach { t =>
          spark.read.parquet(s"$dir/$t.parquet").count()
        }
        graft.Tables.events(spark, dir).count()
        graft.ops.CatalogQueries.ensureWarehouse(spark, dir)
        graft.ops.CatalogQueries.ensureSpjWarehouse(spark, dir)
        graft.ops.CatalogQueries.ensureTemporalWarehouse(spark, dir)
        graft.ops.CatalogQueries.ensureSortedSpjWarehouse(spark, dir)
      },
      timed("stream_init_s") {
        graft.stream.Streaming.queries("q72_stream_dedup")(spark, dir).count()
      },
      timed("ann_index_s")(graft.llm.AnnIndex.ensure(spark, dir)),
      timed("band_index_s")(graft.llm.Dedup.ensureBandIndex(spark, dir)))
  }

  /** Build one query, then write every output column to the noop sink,
    * counting rows on the way through an observation. */
  def runOne(spark: SparkSession, dir: String, round: Int, name: String): Run = {
    val sc = spark.sparkContext
    val fn = SparkEntry.queries(name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var rows = -1L
    val error = try {
      sc.setLocalProperty(TagKey, s"$round:$name:c")
      val df = fn(spark, dir)
      t1 = System.nanoTime()
      sc.setLocalProperty(TagKey, s"$round:$name:x")
      val obs = Observation()
      df.observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      rows = obs.get("rows").asInstanceOf[Long]
      ""
    } catch { case scala.util.control.NonFatal(e) =>
      if (t1 == t0) t1 = System.nanoTime()
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally sc.setLocalProperty(TagKey, null)
    val t2 = System.nanoTime()
    Run(round, name, startMs, System.currentTimeMillis(), t1 - t0, t2 - t0, rows, error)
  }

  def runJson(r: Run, counters: Option[Counters], phases: Seq[(String, Long, Long)])
      : Map[String, Any] = {
    val base = Map("round" -> r.round, "name" -> r.name, "family" -> familyOf(r.name),
      "construct_s" -> r.constructNs / 1e9, "total_s" -> r.totalNs / 1e9,
      "rows" -> r.rows, "error" -> r.error)
    counters.fold(base) { c =>
      def tagged(phase: String): List[Long] =
        Option(c.byTag.get(s"${r.round}:${r.name}:$phase")).map(_.toList)
          .getOrElse(List.fill(9)(0L))
      // a Catalyst phase belongs to the query whose window it started in
      val mine = phases.filter { case (_, s, _) => s >= r.startMs && s <= r.endMs }
      def phaseMs(p: String): Long = mine.filter(_._1 == p).map(x => x._3 - x._2).sum
      base ++ Map("construct_counters" -> tagged("c"), "execute_counters" -> tagged("x"),
        "analysis_ms" -> phaseMs("analysis"), "optimization_ms" -> phaseMs("optimization"),
        "planning_ms" -> phaseMs("planning"))
    }
  }

  def run(spec: org.json4s.JValue, work: Path, seconds: Double, trace: Boolean,
          cores: Int): Map[String, Any] = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val dir = (spec \ "data_dir").extract[String]
    val names = (spec \ "queries").extract[List[String]] match {
      case List("all") => SparkEntry.queries.keys.toList.sorted
      case qs => qs
    }
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val steps = setup(spark, dir)
    // one unmeasured round builds the artifacts some queries create on
    // first use, which would otherwise double the first round's wall
    val w0 = System.nanoTime()
    if ((spec \ "warm_round").extractOpt[Boolean].getOrElse(true))
      names.foreach(runOne(spark, dir, -1, _))
    val warmS = (System.nanoTime() - w0) / 1e9

    var round = 0
    def phase(seconds: Double, traced: Boolean): Map[String, Any] = {
      val counters = if (traced) Some(new Counters) else None
      val phases = new Phases
      counters.foreach { c =>
        spark.sparkContext.addSparkListener(c)
        spark.listenerManager.register(phases)
      }
      val rounds = Seq.newBuilder[(Double, Seq[Run])]
      var measured = 0.0
      var n = 0
      while (measured < seconds || n == 0) {
        val r0 = System.nanoTime()
        val runs = names.map(runOne(spark, dir, round, _))
        val wall = (System.nanoTime() - r0) / 1e9
        rounds += wall -> runs
        measured += wall
        round += 1; n += 1
      }
      counters.foreach { c =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(c)
        spark.listenerManager.unregister(phases)
      }
      val seen = phases.seen.asScala.toSeq
      Map("phase" -> (if (traced) "traced" else "untraced"),
        "rounds" -> rounds.result().map { case (wall, runs) =>
        Map("wall_s" -> wall, "queries" -> runs.map(runJson(_, counters, seen)))
      })
    }
    // a traced run brackets its traced phase with two untraced quarters,
    // so drift over the run does not bias the tracing overhead
    val measured =
      if (!trace) Seq(phase(seconds, traced = false))
      else Seq(phase(seconds / 4, traced = false), phase(seconds, traced = true),
        phase(seconds / 4, traced = false))

    // the program's own ANN quality bar: recall@3 of each index
    val recall = try graft.llm.Similarity.q66AnnRecall(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] recall evaluation failed: $e"); Map.empty[String, Double]
      }
    val oracle = if ((spec \ "oracle").extractOpt[Boolean].getOrElse(false))
      SparkEntry.oracleSql else Map.empty
    Map("setup_parts" -> (("session_s" -> sessionS) +: steps :+ ("warm_round_s" -> warmS)).toMap,
      "phases" -> measured, "recall" -> recall, "cores" -> cores, "oracle" -> oracle)
  }
}
