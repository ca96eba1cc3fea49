package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Graft
import graft.engine.{Converter, GraphTables}
import graft.ingest.XmlIngest
import graft.queries.GraphQueries
import graft.relationships.RelationshipAdapter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The JVM side of perfbench: builds the library's own session, sets the
  * workload up, runs timed operations in a closed loop with one client
  * until their summed time reaches the run length, and writes one JSON
  * record of raw samples. Metrics and output checks are computed from
  * that record by run.py.
  *
  * Usage: Harness <config.json>. The config is written by run.py. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Op(kind: String, name: String, s: Double,
      traced: Boolean, info: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    // Spark's default of 200 shuffle partitions turns every shuffle of
    // these inputs into hundreds of near-empty tasks and output files (a
    // 1,500-file conversion takes ~25 s, almost all of it task and file
    // overhead); one partition per core, through the library's own knob,
    // keeps the shuffles as wide as the session.
    val spark = Graft.session(master = s"local[$cores]",
      shufflePartitions = Some(cores))
    val sessionBuildS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, cfg.get("trace").asBoolean)

    val work = cfg.get("work").asText
    val run = cfg.get("workload").asText match {
      case "graph_queries" => new GraphRun(spark, cfg, work, trace)
      case _ => new IngestRun(spark, cfg, work, trace)
    }
    val setupS = timed(run.setup())
    val canaryStart = canary(spark, cores)
    val ops = mutable.ArrayBuffer.empty[Op]
    val seconds = cfg.get("seconds").asDouble
    // The loop ends at the first write that takes the summed op time
    // past `seconds`, once it has seen a read, so every run does whole
    // rounds of the same work. A traced run first runs every kind of op
    // twice, once traced and once not, alternating which comes first so
    // warm-up favours neither: the pairs give the tracing overhead.
    val maxOps = Option(cfg.get("max_ops")).map(_.asInt).getOrElse(Int.MaxValue)
    val loopStart = System.nanoTime()
    var busy = 0.0
    def done = busy >= seconds && run.coverageDone &&
      ops.lastOption.exists(_.kind == "write") && ops.exists(_.kind == "read")
    while (ops.size < maxOps && !done && busy < 120) {
      val t0 = System.nanoTime()
      val op =
        try run.next()
        catch {
          case e: Exception => Op("failed", e.getClass.getSimpleName,
            (System.nanoTime() - t0) / 1e9, trace.active, Map("ok" -> false,
              "error" -> String.valueOf(e.getMessage).take(300)))
        }
      busy += op.s
      ops += op
    }
    trace.active = false
    val loopWallS = (System.nanoTime() - loopStart) / 1e9
    val canaryEnd = canary(spark, cores)
    val record = Map[String, Any](
      "cores" -> cores,
      "session_build_s" -> sessionBuildS,
      "setup_s" -> setupS,
      "canary_start_s" -> canaryStart,
      "canary_end_s" -> canaryEnd,
      "loop_wall_s" -> loopWallS,
      "ops" -> ops.toSeq.map(o => Map("kind" -> o.kind, "op" -> o.name,
        "s" -> o.s, "traced" -> o.traced) ++ o.info),
      "setup_info" -> run.setupInfo,
      "spans" -> trace.records(),
      "peak_rss_mb" -> peakRssMb())
    mapper.writeValue(new File(cfg.get("result").asText), record)
    spark.stop()
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed calibration probe, timed at the start and end of every run: a
    * loaded machine shows up as a slow canary. */
  private def canary(spark: SparkSession, cores: Int): Double =
    timed(spark.range(0L, 5000000L, 1L, cores)
      .selectExpr("sum(hash(id)) AS h").collect())

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def dirBytes(dir: File): (Long, Long) = {
    val files = Option(dir.listFiles()).toSeq.flatten
    files.foldLeft((0L, 0L)) { case ((b, n), f) =>
      if (f.isDirectory) { val (b2, n2) = dirBytes(f); (b + b2, n + n2) }
      else if (f.getName.endsWith(".parquet")) (b + f.length, n + 1)
      else (b, n)
    }
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  /** Table counts and edges per reference_type of a written graph. */
  def tableCounts(t: GraphTables): Map[String, Any] = Map(
    "documents" -> t.documents.count(),
    "nodes" -> t.nodes.count(),
    "properties" -> t.properties.count(),
    "edges" -> GraphQueries.relationshipSummary(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** Order-independent digest of a result: rows rendered with columns
    * in name order (timestamps dropped, doubles rounded to 1e-6),
    * sorted, md5'd. check.py renders DuckDB's rows the same way. */
  def signature(df: DataFrame, rows: Array[Row]): Map[String, Any] = {
    val fields = df.schema.fields.zipWithIndex.filterNot { case (f, _) =>
      f.dataType == TimestampType || f.dataType == TimestampNTZType
    }.sortBy(_._1.name)
    def canon(v: Any): String = v match {
      case null => "\\N"
      case d: Double => math.floor(d * 1e6 + 0.5).toLong.toString
      case f: Float => math.floor(f.toDouble * 1e6 + 0.5).toLong.toString
      case x => x.toString
    }
    val lines = rows.map(r => fields.map { case (_, i) => canon(r.get(i)) }
      .mkString("\u0001")).sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    Map("rows" -> rows.length, "md5" -> md5,
      "columns" -> fields.map(_._1.name).toSeq)
  }

  trait Run {
    def setup(): Unit
    def setupInfo: Map[String, Any]
    /** Run the next op, traced or not as the run's schedule says. */
    def next(): Op
    /** Whether a traced run has done its traced/untraced op pairs. */
    def coverageDone: Boolean
  }

  /** convertAndWrite of one corpus shard per write op, then a read-back
    * of the written tables' counts (the statistics the reference prints
    * after a conversion) per read op. */
  final class IngestRun(spark: SparkSession, cfg: JsonNode, work: String,
      trace: Trace) extends Run {
    private val shards = cfg.get("shards").elements().asScala.map(_.asText).toVector
    private val adapters =
      if (cfg.get("adapters").asText == "scale") Converter.scaleAdapters
      else Converter.coreAdapters
    private var i = 0
    private var pendingRead: Option[(String, Int)] = None
    private var info = Map.empty[String, Any]

    def setup(): Unit = {
      val out = s"$work/warm"
      GraphTables.unpersist(new Converter(spark, adapters)
        .convertAndWrite(cfg.get("warm").asText, out))
      tableCounts(GraphTables.read(spark, out))
      info = Map("output_bytes" -> dirBytes(new File(out))._1)
    }
    def setupInfo: Map[String, Any] = info

    // write, read untraced, then write, read traced
    private val flags =
      if (trace.on) Vector(false, false, true, true) else Vector.empty
    private var n = 0
    def coverageDone: Boolean = n >= flags.length

    def next(): Op = {
      val traced = n < flags.length && flags(n)
      n += 1
      trace.active = traced
      step(traced)
    }

    private def step(traced: Boolean): Op = pendingRead match {
      case Some((out, shard)) =>
        pendingRead = None
        var counts = Map.empty[String, Any]
        val s = timed {
          val t = trace.span("queries.read")(GraphTables.read(spark, out))
          counts = trace.span("queries.tableCounts")(tableCounts(t))
        }
        rmTree(new File(out))
        Op("read", "readback", s, traced, Map("shard" -> shard,
          "counts" -> counts))
      case None =>
        val shard = i % shards.length
        val out = s"$work/out$i"
        i += 1
        val s = timed {
          if (traced) tracedConvert(shards(shard), out)
          else GraphTables.unpersist(
            new Converter(spark, adapters).convertAndWrite(shards(shard), out))
        }
        val (bytes, files) = dirBytes(new File(out))
        pendingRead = Some((out, shard))
        Op("write", "convertAndWrite", s, traced, Map("shard" -> shard,
          "output_bytes" -> bytes, "output_files" -> files))
    }

    /** Converter.convert + GraphTables.write, one span per layer, each
      * layer's output materialized inside its own span. */
    private def tracedConvert(dir: String, out: String): Unit =
      trace.span("engine.convertAndWrite") {
        trace.span("ingest.scan") {
          val r = XmlIngest.scan(spark, dir)
            .agg(count(lit(1)), coalesce(sum("length"), lit(0L))).head()
          trace.attr("files", r.getLong(0))
          trace.attr("bytes", r.getLong(1))
        }
        val parsed = trace.span("ingest.parse") {
          val p = XmlIngest.parse(spark, dir).cache()
          val r = p.select(count(lit(1)), sum(size(col("nodes"))),
            sum(size(col("properties")))).head()
          trace.attr("docs", r.getLong(0))
          trace.attr("rows_in", r.getLong(0) + r.getLong(1) + r.getLong(2))
          p
        }
        trace.span("probe.strict_parse") {
          trace.attr("strict_failures", strictFailures(dir))
        }
        val t = trace.span("ingest.tables") {
          val t = XmlIngest.tables(parsed)
          val n = t.nodes.cache()
          val p = t.properties.cache()
          trace.attr("rows_out", t.documents.count() + n.count() + p.count())
          XmlIngest.XmlTables(t.documents, n, p)
        }
        val edges = adapters.map { a =>
          trace.span(s"relationships.${a.name}") {
            val e = a.detect(t.nodes, t.properties).cache()
            trace.attr("edges", e.count())
            e
          }
        }
        trace.span("engine.write") {
          GraphTables(t.documents, t.nodes, t.properties,
            RelationshipAdapter.detectAll(adapters, t.nodes, t.properties))
            .write(out)
          val (b, f) = dirBytes(new File(out))
          trace.attr("bytes", b)
          trace.attr("files", f)
        }
        edges.foreach(_.unpersist())
        Seq(parsed.toDF(), t.nodes, t.properties).foreach(_.unpersist())
      }

    /** Files a strict DOM parse rejects (salvaged + skipped): counted by
      * the benchmark, since the converter does not report it. */
    private def strictFailures(dir: String): Long = {
      import spark.implicits._
      XmlIngest.scan(spark, dir).select("content").as[Array[Byte]]
        .mapPartitions { it =>
          val b = javax.xml.parsers.DocumentBuilderFactory.newInstance()
            .newDocumentBuilder()
          b.setErrorHandler(null)
          it.map { bytes =>
            try { b.parse(new java.io.ByteArrayInputStream(bytes)); 0 }
            catch { case _: Exception => 1 }
          }
        }.as[Int].collect().sum.toLong
    }
  }

  /** A closed loop of GraphQueries calls over a converted graph, with
    * a fixed share of Converter.upsert writes that later reads see. */
  final class GraphRun(spark: SparkSession, cfg: JsonNode, work: String,
      trace: Trace) extends Run {
    private val ops = cfg.get("ops").elements().asScala
      .map(_.elements().asScala.map(_.asText).toVector).toVector
    private val patches = cfg.get("patches").elements().asScala
      .map(_.asText).toVector
    private var version = 0
    private var tables: GraphTables = _
    private var i = 0
    private var info = Map.empty[String, Any]
    private def vdir(v: Int) = s"$work/v$v"

    def setup(): Unit = {
      GraphTables.unpersist(new Converter(spark)
        .convertAndWrite(cfg.get("base").asText, vdir(0)))
      tables = GraphTables.read(spark, vdir(0))
      cfg.get("warm_ops").elements().asScala.foreach { w =>
        val a = w.elements().asScala.map(_.asText).toVector
        query(tables, a.head, a.tail).collect()
      }
      info = Map("output_bytes" -> dirBytes(new File(vdir(0)))._1)
    }
    def setupInfo: Map[String, Any] = info

    // every kind of op (the first of its kind in the sequence) twice
    private val cover: Vector[(Vector[String], Boolean)] =
      if (!trace.on) Vector.empty
      else ops.map(_.head).distinct.zipWithIndex.flatMap { case (kind, j) =>
        val spec = ops.find(_.head == kind).get
        Vector(spec -> (j % 2 == 1), spec -> (j % 2 == 0))
      }
    private var c = 0
    def coverageDone: Boolean = c >= cover.length

    def next(): Op = {
      val (op, traced) =
        if (c < cover.length) { c += 1; cover(c - 1) }
        else { i += 1; (ops((i - 1) % ops.length), false) }
      trace.active = traced
      if (op.head == "upsert") upsert(traced)
      else {
        var df: DataFrame = null
        var rows: Array[Row] = null
        val s = timed {
          trace.span(s"queries.${op.head}") {
            df = query(tables, op.head, op.tail)
            rows = df.collect()
            trace.attr("plan_s", planSeconds(df))
          }
        }
        Op("read", op.head, s, traced, Map("args" -> op.tail,
          "version" -> version, "sig" -> signature(df, rows)))
      }
    }

    private def upsert(traced: Boolean): Op = {
      val k = version % patches.length
      val s = timed {
        trace.span("engine.upsert") {
          val u = new Converter(spark).upsert(tables, patches(k))
          u.write(vdir(version + 1))
          GraphTables.unpersist(u)
        }
        tables = trace.span("queries.read")(
          GraphTables.read(spark, vdir(version + 1)))
      }
      version += 1
      val counts = tableCounts(tables)
      trace.attrOnLast("engine.upsert", "rows_out", counts("nodes"))
      Op("write", "upsert", s, traced, Map("version" -> version,
        "patch" -> k, "counts" -> counts))
    }
  }

  /** Analysis + optimization + planning time of an executed query. */
  def planSeconds(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3

  def query(t: GraphTables, op: String, a: Seq[String]): DataFrame = op match {
    case "nodesByType" => GraphQueries.nodesByType(t, a(0))
    case "contentSearch" => GraphQueries.contentSearch(t, a(0))
    case "xpathSearch" => GraphQueries.xpathSearch(t, a(0))
    case "searchByAttribute" => GraphQueries.searchByAttribute(t, a(0), a(1))
    case "propertiesOfType" => GraphQueries.propertiesOfType(t, a(0), a(1))
    case "eavConjunction" =>
      GraphQueries.eavConjunction(t, a(0), a(1), a(2), a(3))
    case "pivotProperties" => GraphQueries.pivotProperties(t, a)
    case "propertiesByDataType" => GraphQueries.propertiesByDataType(t, a(0))
    case "countByType" => GraphQueries.countByType(t)
    case "statistics" => GraphQueries.statistics(t)
    case "relationshipSummary" => GraphQueries.relationshipSummary(t)
    case "relationshipsOf" => GraphQueries.relationshipsOf(t, a(0))
    case "directChildren" => GraphQueries.directChildren(t, a(0))
    case "siblingsOf" => GraphQueries.siblingsOf(t, a(0))
    case "referencesTo" => GraphQueries.referencesTo(t, a(0))
    case "brokenReferences" => GraphQueries.brokenReferences(t)
    case "relationshipCounts" => GraphQueries.relationshipCounts(t)
    case "mostConnected" => GraphQueries.mostConnected(t, a(0).toInt)
    case "bidirectionalPairs" => GraphQueries.bidirectionalPairs(t)
    case "nodeTree" => GraphQueries.nodeTree(t)
    case "ancestors" => GraphQueries.ancestors(t, a(0))
    case "descendants" => GraphQueries.descendants(t, a(0))
    case "hierarchicalPaths" => GraphQueries.hierarchicalPaths(t)
  }
}
