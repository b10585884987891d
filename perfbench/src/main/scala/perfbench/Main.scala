package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import graft.engine.{Catalog, Engine}
import graft.nutql.Parser
import graft.pipeline.Dedup
import graft.queries.{Engines, StreamRunner}

/** One operation of a round: `run` does the work and returns the result
  * rows; the loop times it. In the traced run the loop also calls
  * `before` and `after` outside the timed region and outside the
  * operation's span, for measurements of the benchmark's own (a walk of
  * the warehouse, the size of the index); `after` returns values to
  * attach to the operation's record. */
final case class Op(id: String, kind: String, run: () => (Seq[String], Array[Row]),
    before: () => Unit = () => (),
    after: () => Map[String, Double] = () => Map.empty)

/** One executed operation, as written for the checker. */
final case class Exec(op: String, round: Int, kind: String, warmup: Boolean,
    startNs: Long, endNs: Long, columns: Seq[String], rows: Array[Row],
    error: String, values: Map[String, Double])

trait Workload {
  /** Build everything the timed loop needs. Called several times; each
    * call replaces the state of the previous one. */
  def setup(): Unit
  /** The operations of round `r` (the first rounds are the warm-up);
    * every timed round has the same shape. */
  def round(r: Int): Seq[Op]
  /** Called after each round (warm-up included). */
  def endRound(): Unit = ()
  /** Values measured once after the loop (traced run only). */
  def finish(): Map[String, Double] = Map.empty
}

/** Benchmark driver: builds the session, sets the workload up several
  * times, warms it up with the plan's untimed rounds, then runs whole
  * rounds from one thread with no think time until `seconds` have
  * passed. Results go to `<dir>/out.json`; the Python side checks them
  * and computes the metrics. */
object Main {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = Paths.get(opt("dir"))
    val seconds = opt("seconds").toDouble
    val setups = opt.getOrElse("setups", "3").toInt
    val plan = json.readTree(dir.resolve("plan.json").toFile)
    val dataDir = dir.resolve(plan.get("data").asText()).toString

    val spark = graft.Sessions.build("perfbench")
    val sessionReadyMs = System.currentTimeMillis()
    if (opt("trace") == "1") Trace.tracer = new Tracer(spark)

    val wl: Workload = opt("workload") match {
      case "sql_subquery" => new SqlWorkload(spark, dataDir, plan)
      case "ingest" => new IngestWorkload(spark, dataDir, plan)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val setupS = (1 to setups).map { _ =>
      val t0 = System.nanoTime()
      Trace.span("setup")(wl.setup())
      (System.nanoTime() - t0) / 1e9
    }
    val execs = ArrayBuffer.empty[Exec]
    def runRound(r: Int, warmup: Boolean): Unit = {
      wl.round(r).foreach { op =>
        val idx = execs.length
        if (Trace.on) {
          Trace.tracer.op = idx
          Trace.tracer.exec.peakExecMemory.set(0)
        }
        var cols: Seq[String] = Nil
        var rows: Array[Row] = Array.empty
        var err: String = null
        if (Trace.on) op.before()
        val t0 = System.nanoTime()
        try Trace.span("op") {
          val (c, rs) = op.run()
          cols = c; rows = rs
          if (Trace.on) Trace.attach(Map("exec.peak_exec_memory_bytes" ->
            Trace.tracer.exec.peakExecMemory.get.toDouble))
        } catch { case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}" }
        val t1 = System.nanoTime()
        val values = Option(OpValues.take()).getOrElse(Map.empty[String, Double])
        val after = if (Trace.on && err == null) op.after() else Map.empty[String, Double]
        execs += Exec(op.id, r, op.kind, warmup, t0, t1, cols, rows, err, values ++ after)
      }
      wl.endRound()
    }

    val warmups = plan.get("warmup_rounds").asInt
    (0 until warmups).foreach(runRound(_, warmup = true))
    val gc0 = gcMs()
    val loopStartMs = System.currentTimeMillis()
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    var r = warmups
    while (System.nanoTime() < deadline) { runRound(r, warmup = false); r += 1 }
    val loopEnd = System.nanoTime()
    val rssKb = vmHwmKb()
    val gcLoopMs = gcMs() - gc0
    val finish = wl.finish()

    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("session_ready_ms", Long.box(sessionReadyMs))
    out.put("setup_s", setupS.map(Double.box).asJava)
    out.put("loop_start_ms", Long.box(loopStartMs))
    out.put("loop_s", Double.box((loopEnd - loopStart) / 1e9))
    out.put("rounds", Int.box(r - warmups))
    out.put("vm_hwm_kb", Long.box(rssKb))
    out.put("jvm_gc_s", Double.box(gcLoopMs / 1000.0))
    out.put("jvm_heap_peak_mb", Double.box(heapPeakMb()))
    out.put("finish", finish.map { case (k, v) => k -> Double.box(v) }.asJava)
    out.put("execs", execs.map(execJson).asJava)
    if (Trace.on) out.put("spans", Trace.tracer.spans.map(spanJson).asJava)
    json.writeValue(dir.resolve("out.json").toFile, out)
    spark.stop()
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), in kB. */
  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def execJson(e: Exec): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("op", e.op); m.put("round", Int.box(e.round)); m.put("kind", e.kind)
    m.put("warmup", Boolean.box(e.warmup))
    m.put("latency_s", Double.box((e.endNs - e.startNs) / 1e9))
    m.put("start_ns", Long.box(e.startNs))
    m.put("columns", e.columns.asJava)
    m.put("rows", e.rows.map(r => r.toSeq.map(cell).asJava).toSeq.asJava)
    m.put("error", e.error)
    m.put("values", e.values.map { case (k, v) => k -> Double.box(v) }.asJava)
    m
  }

  private def spanJson(s: Span): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("id", Int.box(s.id)); m.put("name", s.name); m.put("op", Int.box(s.op))
    m.put("parent", Int.box(s.parent))
    m.put("start_ns", Long.box(s.startNs)); m.put("end_ns", Long.box(s.endNs))
    m.put("values", s.values.map { case (k, v) => k -> Double.box(v) }.asJava)
    m
  }

  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** A result cell as a JSON value; timestamps as UTC text. */
  private def cell(v: Any): AnyRef = v match {
    case null => null
    case b: java.math.BigDecimal => Double.box(b.doubleValue)
    case d: java.lang.Double => d
    case f: java.lang.Float => Double.box(f.doubleValue)
    case n: java.lang.Number => Long.box(n.longValue)
    case t: java.sql.Timestamp =>
      tsFormat.format(t.toInstant.atZone(java.time.ZoneOffset.UTC))
    case t: java.time.Instant => tsFormat.format(t.atZone(java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => tsFormat.format(t)
    case s: scala.collection.Seq[_] => s.map(cell).asJava
    case other => other.toString
  }
}

/** Values an operation attaches to its own record (e.g. bytes written
  * by it), read by the loop when the operation ends. */
object OpValues {
  private var current: Map[String, Double] = null
  def put(values: Map[String, Double]): Unit =
    current = Option(current).getOrElse(Map.empty) ++ values
  def take(): Map[String, Double] = { val v = current; current = null; v }
}

/** NutQL statement execution with the traced layer boundaries: parse,
  * Engine.run, the forced Catalyst phases, and the action. */
object Statements {
  def select(engine: Engine, text: String): (Seq[String], Array[Row]) = {
    val stmt = Trace.span("nutql.parse")(Parser.parse(text))
    val df = Trace.span("engine.bind")(engine.run(stmt))
    if (Trace.on) {
      val qe = df.queryExecution
      Trace.span("catalyst.optimization")(qe.optimizedPlan)
      Trace.span("catalyst.planning")(qe.executedPlan)
    }
    val rows = Trace.span("exec.action")(df.collect())
    if (Trace.on) {
      val qe = df.queryExecution
      val phases = qe.tracker.phases
      val analysisMs = phases.get("analysis").map(_.durationMs).getOrElse(0L)
      OpValues.put(PlanCounts(qe.executedPlan) ++ Map(
        "catalyst.analysis_s" -> analysisMs / 1000.0,
        "result_rows" -> rows.length.toDouble))
    }
    (df.columns.toSeq, rows)
  }

  /** A statement that runs eagerly inside Engine.run (INSERT, OPTIMIZE). */
  def statement(engine: Engine, text: String): (Seq[String], Array[Row]) = {
    val stmt = Trace.span("nutql.parse")(Parser.parse(text))
    val df = Trace.span("engine.stmt")(engine.run(stmt))
    (df.columns.toSeq, df.collect())
  }
}

object Tables {
  val base = Seq("customer", "supplier", "part", "orders", "lineitem")

  def engine(spark: SparkSession, dataDir: String): Engine = {
    val catalog = new Catalog(spark)
    base.filter(n => Files.exists(Paths.get(s"$dataDir/$n.parquet")))
      .foreach(n => catalog.registerBase(graft.Tables.load(spark, dataDir, n), n))
    new Engine(spark, catalog)
  }
}

/** The rounds of the plan: the warm-up rounds, then the timed rounds,
  * which a long run goes through again from the first. */
final class PlanRounds(plan: JsonNode) {
  private val rounds = plan.get("rounds")
  private val warmups = plan.get("warmup_rounds").asInt
  def apply(r: Int): Seq[JsonNode] = {
    val i = if (r < warmups) r else warmups + (r - warmups) % (rounds.size - warmups)
    rounds.get(i).elements.asScala.toSeq
  }
}

/** sql_subquery: one SELECT per operation. */
final class SqlWorkload(spark: SparkSession, dataDir: String, plan: JsonNode)
    extends Workload {
  private var engine: Engine = _
  private val rounds = new PlanRounds(plan)

  def setup(): Unit = engine = Tables.engine(spark, dataDir)

  def round(r: Int): Seq[Op] =
    rounds(r).map { o =>
      val text = o.get("nutql").asText()
      Op(o.get("id").asText(), "read", () => Statements.select(engine, text))
    }
}

/** ingest: INSERT batches, reads and OPTIMIZE on engine-created tables,
  * with a materialized Summing view maintained on every INSERT; beside
  * them one document batch through classify-and-append and one streamed
  * probe batch per round. */
final class IngestWorkload(spark: SparkSession, dataDir: String, plan: JsonNode)
    extends Workload {
  private var engine: Engine = _
  private val docs = new DocumentBatches(spark, dataDir)
  private val rounds = new PlanRounds(plan)

  def setup(): Unit = {
    engine = Tables.engine(spark, dataDir)
    plan.get("setup").elements.asScala.foreach(s => engine.execute(s.asText()).collect())
    docs.setup()
  }

  def round(r: Int): Seq[Op] =
    rounds(r).map { o =>
      val id = o.get("id").asText()
      val kind = o.get("kind").asText()
      if (o.has("batch")) {
        val path = s"$dataDir/${o.get("batch").asText()}"
        if (o.get("mode").asText() == "ingest")
          Op(id, kind, () => docs.ingest(path), after = () => docs.indexValues())
        else Op(id, kind, () => docs.probe(path))
      } else {
        val text = o.get("nutql").asText()
        val walk = new Storage.Delta(engine)
        Op(id, kind, () => statement(kind, text), before = () => walk.start(),
          after = () => walk.values())
      }
    }

  private def statement(kind: String, text: String) =
    if (kind == "read") Statements.select(engine, text)
    else Statements.statement(engine, text)

  override def endRound(): Unit = docs.endRound()

  override def finish(): Map[String, Double] =
    if (Trace.on) Storage.usage(engine) else Map.empty
}

/** The engine warehouse on disk, for the traced dml run. */
object Storage {
  private def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** The bytes and files an operation adds to the warehouse: `start`
    * walks it before the operation, `values` after it. */
  final class Delta(engine: Engine) {
    private var before: Map[String, Long] = Map.empty
    def start(): Unit = before = files(engine.catalog.warehouseDir)
    def values(): Map[String, Double] = {
      val added = files(engine.catalog.warehouseDir).filter { case (f, _) => !before.contains(f) }
      Map("storage.bytes_written" -> added.values.sum.toDouble,
        "storage.files_written" -> added.size.toDouble)
    }
  }

  /** Live files are those under the directories the current table and
    * view versions point at; everything else is superseded. */
  def usage(engine: Engine): Map[String, Double] = {
    val c = engine.catalog
    val live = c.names.flatMap { n =>
      c.get(n) match {
        case Some(t: c.TableEntry) => t.path.toSeq
        case Some(v: c.ViewEntry) => v.materialized.map(_.path).toSeq
        case _ => Nil
      }
    }.map(p => Paths.get(p).toString + java.io.File.separator)
    val all = files(c.warehouseDir)
    val (liveFiles, dead) = all.partition { case (f, _) => live.exists(f.startsWith) }
    Map(
      "storage.total_bytes" -> all.values.sum.toDouble,
      "storage.live_bytes" -> liveFiles.values.sum.toDouble,
      "storage.live_files" -> liveFiles.size.toDouble,
      "storage.superseded_bytes" -> dead.values.sum.toDouble)
  }
}

/** Document batches against a corpus shingle index: ingest batches go
  * through classify-and-append, probe batches through the streaming
  * runner against the current index. Each round starts again from the
  * loaded corpus index, so every round does the same work. */
final class DocumentBatches(spark: SparkSession, dataDir: String) {
  private val prefix = "perfbench_idx"
  private var base: Dedup.CorpusShingleIndex = _
  private var idx: Dedup.CorpusShingleIndex = _

  def setup(): Unit = {
    val corpus = spark.read.parquet(s"$dataDir/documents.parquet")
    val built = Trace.span("pipeline.index_build")(
      Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text"))
    require(built.droppedPostings == 0,
      s"index build dropped ${built.droppedPostings} posting bucket(s)")
    Trace.span("pipeline.index_write")(Dedup.writeIndexTables(built, prefix))
    built.release(blocking = true)
    Engines.releaseAll(blocking = true)
    base = Trace.span("pipeline.index_load")(Dedup.loadCorpusShingleIndex(spark, prefix))
    idx = base
  }

  def ingest(path: String): (Seq[String], Array[Row]) = {
    val (verdicts, rows, grown) = Trace.span("pipeline.classify_append") {
      val (v, g) = Dedup.classifyAndAppend(idx, spark.read.parquet(path), "doc_id", "text")
      (v, v.collect(), g)
    }
    idx = grown
    if (grown.droppedPostings != 0)
      throw new IllegalStateException(s"append dropped ${grown.droppedPostings} posting bucket(s)")
    (verdicts.columns.toSeq, rows)
  }

  /** The size of the current index, for the traced run. */
  def indexValues(): Map[String, Double] = Map(
    "pipeline.index_docs" -> idx.arrs.count().toDouble,
    "pipeline.dropped_postings" -> idx.droppedPostings.toDouble)

  def probe(path: String): (Seq[String], Array[Row]) = {
    val current = idx
    if (Trace.on) Trace.tracer.stream.reset()
    val calledMs = System.currentTimeMillis()
    val out = Trace.span("streaming.replay") {
      val df = StreamRunner.replayParquetBatches(spark, path, assertStateless = true) { b =>
        Dedup.incrementalNearDupIndexed(current, b, "doc_id", "text")
      }
      (df.columns.toSeq, df.collect())
    }
    if (Trace.on) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val s = Trace.tracer.stream
      OpValues.put(Map(
        "streaming.start_s" -> math.max(0L, s.startedAtMs - calledMs) / 1000.0,
        "streaming.batches" -> s.batches.get.toDouble,
        "streaming.query_planning_s" -> s.durationMs("queryPlanning") / 1000.0,
        "streaming.wal_commit_s" -> s.durationMs("walCommit") / 1000.0,
        "streaming.add_batch_s" -> s.durationMs("addBatch") / 1000.0,
        "streaming.trigger_s" -> s.durationMs("triggerExecution") / 1000.0))
    }
    out
  }

  def endRound(): Unit = {
    Engines.releaseAll(blocking = true)
    idx = base
  }
}
