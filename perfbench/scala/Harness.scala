package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{DeltaStore, Stores, Tables}

/** Scenario driver of the benchmark. It calls graft only through public
  * functions of `graft.sources` and `graft.operators` and times each call
  * from outside. Everything it observes goes to one JSON file; `run.py`
  * turns that file into metrics.
  *
  *   Harness workload=<name> data=<dir> out=<file> checks=<dir>
  *           warehouse=<dir> local=<dir> seconds=<n> rounds=<n>
  *           setups=<n> trace=<0|1> seed=<n> cpus=<n>
  */
object Harness {
  val SpanKey = "graftbench.span"

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cpus = a("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .config("spark.local.dir", a("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerOptimizerRules(spark)
    val rec = new Recorder(spark, a("trace") == "1")
    val w: Workload = a("workload") match {
      case "rag_ingest_serve_maintain" => new RagIngestServeMaintain(spark, rec, a("seed").toLong)
      case "curate_batch" => new CurateBatch(spark, rec, a("seed").toLong)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      // set-up runs several times on a fresh catalog; the last one stays
      for (k <- 1 to a("setups").toInt) {
        if (k > 1) w.reset()
        w.runSetup(a("data"))
      }
      w.runTimed(a("data"), a("seconds").toLong * 1000000000L, a("rounds").toInt)
      try w.checks(a("data"), a("checks"))
      catch { case e: Exception => rec.check("checks", ok = false, e.toString) }
      rec.gauge("peak_rss_mb", Recorder.peakRssMb())
    } finally {
      rec.write(Paths.get(a("out")), a("workload"))
      spark.stop()
    }
  }
}

/** Spans, operation timings, gauges and check outcomes of one run. With
  * tracing on, it also sets the enclosing span as a job-group local property
  * and counts scheduler and task metrics per span with a SparkListener. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext

  final class Span(val id: Int, val parent: Int, val name: String, val req: Int,
                   val timed: Boolean, val t0: Long, val e0: Long) {
    var t1 = 0L
    var e1 = 0L
    var plan: Option[(Double, Int, Int)] = None
  }
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val ops = ArrayBuffer.empty[String]
  val setups = ArrayBuffer.empty[Double]
  var timedPart = "{}"
  val checks = ArrayBuffer.empty[String]
  val oracles = ArrayBuffer.empty[String]
  val gauges = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val frames = ArrayBuffer.empty[(Span, DataFrame)]
  /** False during set-up, true during the timed part. */
  var timed = false

  private val listener = new Counters
  if (traced) sc.addSparkListener(listener)

  def span[T](name: String, req: Int = -1)(body: => T): T = {
    val s = new Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name, req,
      timed, System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    if (traced) sc.setLocalProperty(Harness.SpanKey, s.id.toString)
    try body
    finally {
      s.t1 = System.nanoTime()
      s.e1 = System.currentTimeMillis()
      stack = stack.tail
      if (traced) sc.setLocalProperty(Harness.SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Keep the frame a span returned, so its plan is inspected after the
    * timed part, outside every span. */
  def returned(df: DataFrame): DataFrame = {
    if (traced) frames += (stack.head -> df)
    df
  }

  /** Run one timed operation; a throw counts as a failed operation. */
  def op(kind: String, name: String, req: Int = -1)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok = try { span(name, req)(body); true } catch {
      case e: Exception =>
        System.err.println(s"[graftbench] $name failed: $e")
        false
    }
    ops += Json.obj("timed" -> timed, "kind" -> kind, "name" -> name,
      "ms" -> (System.nanoTime() - t0) / 1e6, "ok" -> ok)
  }

  def gauge(name: String, v: Double): Unit = gauges(name) = v
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[graftbench] check $name failed: $detail")
    checks += Json.obj("name" -> name, "ok" -> ok, "detail" -> detail)
  }
  def oracle(name: String, sql: String, path: String): Unit =
    oracles += Json.obj("name" -> name, "sql" -> sql, "path" -> path)

  def setup(seconds: Double): Unit = setups += seconds

  def endTimed(fields: (String, Any)*): Unit = {
    timedPart = Json.obj(fields: _*)
    frames.foreach { case (s, df) => s.plan = Some(Recorder.planStats(df)) }
    frames.clear()
  }

  def write(path: Path, workload: String): Unit = {
    if (traced) Recorder.drainListenerBus(sc)
    val spanJson = spans.map { s =>
      val base = Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "timed" -> s.timed, "t0" -> s.t0, "t1" -> s.t1, "e0" -> s.e0, "e1" -> s.e1)
      Json.obj(base ++ s.plan.toSeq.flatMap { case (ms, ex, j) =>
        Seq("planning_ms" -> ms, "exchanges" -> ex, "joins" -> j) }: _*)
    }
    val out = Json.obj(
      "workload" -> workload, "traced" -> traced,
      "setup_s" -> Json.Raw(setups.mkString("[", ",", "]")),
      "timed" -> Json.Raw(timedPart),
      "ops" -> Json.Raw(ops.mkString("[", ",", "]")),
      "spans" -> Json.Raw(spanJson.mkString("[", ",", "]")),
      "jobs" -> Json.Raw(listener.jobsJson),
      "counters" -> Json.Raw(listener.countersJson),
      "gauges" -> Json.Raw(Json.obj(gauges.toSeq: _*)),
      "checks" -> Json.Raw(checks.mkString("[", ",", "]")),
      "oracles" -> Json.Raw(oracles.mkString("[", ",", "]")))
    Files.writeString(path, out)
  }

  /** Per-span scheduler, executor and data-movement counters. Jobs carry
    * the span id as a local property; stages and tasks inherit it. */
  final class Counters extends SparkListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    private val jobs = ArrayBuffer.empty[String]
    // stages, tasks, run ms, cpu ns, gc ms, shuffle read, shuffle write, spill, input bytes
    private val agg = scala.collection.mutable.Map.empty[String, Array[Long]]
    private def acc(span: String) = agg.getOrElseUpdate(span, new Array[Long](9))
    private def spanOf(p: java.util.Properties) =
      Option(p).flatMap(q => Option(q.getProperty(Harness.SpanKey))).getOrElse("-1")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val s = spanOf(e.properties)
      jobStart.put(e.jobId, (s, e.time))
      e.stageIds.foreach(stageSpan.put(_, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      Option(jobStart.remove(e.jobId)).foreach { case (s, t) =>
        jobs += Json.obj("id" -> e.jobId, "span" -> s.toInt, "e0" -> t, "e1" -> e.time)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      acc(spanOf(e.properties))(0) += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc(Option(stageSpan.get(e.stageId)).getOrElse("-1"))
      a(1) += 1
      val m = e.taskMetrics
      if (m != null) {
        a(2) += m.executorRunTime
        a(3) += m.executorCpuTime
        a(4) += m.jvmGCTime
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.shuffleWriteMetrics.bytesWritten
        a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(8) += m.inputMetrics.bytesRead
      }
    }
    def jobsJson: String = synchronized(jobs.mkString("[", ",", "]"))
    def countersJson: String = synchronized {
      val names = Seq("stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "scan_bytes")
      Json.obj(agg.toSeq.map { case (s, v) =>
        s -> Json.Raw(Json.obj(names.zip(v.toSeq): _*)) }: _*)
    }
  }
}

object Recorder {
  /** (planning ms, exchanges, joins) of a frame's physical plan. A frame
    * that ran reports its executed (adaptive, final) plan; a frame that was
    * only written through a command is planned here. */
  def planStats(df: DataFrame): (Double, Int, Int) = {
    val qe = df.queryExecution
    val plan = qe.executedPlan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(plan)
    val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    (ms, all.count(_.isInstanceOf[Exchange]), all.count(_.isInstanceOf[BaseJoinExec]))
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Minimal JSON writer for the run file. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** One scenario on one corpus directory: `setup` prepares state (run
  * several times, `reset` in between drops every table and cached block),
  * `timed` is the measured part, and `checks` verifies its outputs
  * afterwards, outside the timed part. */
abstract class Workload(val spark: SparkSession, val rec: Recorder, seed: Long) {
  val rng = new Random(seed)
  val Vocab: Seq[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key query " +
    "a scan batch").split(" ").toSeq
  /** Query terms whose substring count equals their token count. */
  val Terms: Seq[String] = Vocab.filter(t => !Vocab.exists(o => o != t && o.contains(t)))
  /** Input tables the workload reads. */
  val inputs: Seq[String]

  def runSetup(d: String): Unit = {
    rec.timed = false
    val t0 = System.nanoTime()
    rec.span("setup")(setup(d))
    rec.setup((System.nanoTime() - t0) / 1e9)
  }

  /** The timed part: one pass of the scenario, whose read phase serves
    * whole rounds of reads, at least `rounds` and more while the part has
    * run for less than `budgetNs`. */
  def runTimed(d: String, budgetNs: Long, rounds: Int): Unit = {
    rec.timed = true
    val t0 = System.nanoTime()
    var served = 0
    rec.span("timed")(timed(d, () => {
      served += 1
      served <= rounds || System.nanoTime() - t0 < budgetNs
    }))
    rec.endTimed("timed_s" -> (System.nanoTime() - t0) / 1e9,
      "store_bytes" -> warehouseBytes(_ => true),
      "graft_store_bytes" -> warehouseBytes(_.startsWith("graft_store_")))
  }

  /** Count every input table: file listing and footers are set-up. */
  def setup(d: String): Unit = inputs.foreach { t =>
    rec.gauge(s"rows.$t", spark.read.parquet(s"$d/$t.parquet").count().toDouble)
  }
  /** `more()` says whether the read phase should serve another round. */
  def timed(d: String, more: () => Boolean): Unit
  def checks(d: String, dir: String): Unit

  def reset(): Unit = {
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Stores.clearSessionMemos()
  }

  /** Bytes on disk of the warehouse tables whose name passes `table`. */
  def warehouseBytes(table: String => Boolean): Long = {
    val root = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p) && table(root.relativize(p).getName(0).toString))
        .mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def batch(name: String)(body: => Unit): Unit = rec.op("batch", name)(body)

  def save(df: DataFrame, table: String): Unit =
    rec.returned(df).write.mode("overwrite").saveAsTable(table)

  def collect(df: DataFrame): Array[Row] = rec.returned(df).collect()
  def keep(df: DataFrame): Kept = Kept(collect(df).toSeq, df.schema)

  /** Leave a result and the DuckDB statement that recomputes it from the
    * inputs, for run.py to compare. */
  def writeOracle(name: String, df: DataFrame, sql: String, dir: String): Unit = {
    val path = s"$dir/$name"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    rec.oracle(name, sql, path)
  }
}

/** The RAG path end to end: ingest (chunk, embed, build the serving
  * stores), one client serving a closed loop of seeded requests, then one
  * maintenance pass on the IVF store: two delta cycles, a merge-on-read
  * read, compaction, and a read of the compacted store. */
final class RagIngestServeMaintain(s: SparkSession, r: Recorder, seed: Long)
    extends Workload(s, r, seed) {
  val inputs = Seq("documents", "embeddings")
  val Types = Seq("ivf", "ivfpq", "bm25", "rrf")
  private var nVec = 0L
  /** Outputs kept for the checks: name -> (parameters, collected frame). */
  private val kept = scala.collection.mutable.LinkedHashMap.empty[String, (Any, Kept)]

  override def setup(d: String): Unit = {
    super.setup(d)
    nVec = rec.gauges("rows.embeddings").toLong
  }

  private def probes(d: String, ids: Seq[Long]): DataFrame =
    Tables.embeddings(spark, d).filter(col("vec_id").isin(ids: _*))

  private def params(t: String): Any = t match {
    case "ivfpq" => Seq.fill(10)(rng.nextLong(nVec)).distinct.sorted
    case "bm25" => rng.shuffle(Terms).take(3)
    case "rrf" => (rng.shuffle(Terms).take(2), rng.nextLong(nVec))
    case _ => ()
  }

  def request(d: String, t: String, p: Any): DataFrame = (t, p) match {
    case ("ivf", _) => Dedup.ivfSearchFromIndex(Stores.ivfIndexStore(spark, d))
    case ("ivfpq", ids: Seq[Long] @unchecked) =>
      ProductQuant.ivfPqSearchFromCodes(Tables.embeddings(spark, d), Stores.ivfPqCodesStore(spark, d),
        probeDf = Some(probes(d, ids)), model = Some(Stores.ivfPqModelStore(spark, d)))
    case ("bm25", terms: Seq[String] @unchecked) => Stores.bm25SearchStore(spark, d, terms)
    case ("rrf", (terms: Seq[String] @unchecked, q: Long)) =>
      Search.rrfFusion(Tables.documents(spark, d), Tables.embeddings(spark, d), terms, queryVecId = q)
  }

  def timed(d: String, more: () => Boolean): Unit = {
    rec.span("ingest") {
      batch("chunking") {
        save(Chunking.chunkWords(Tables.documents(spark, d)), "pb_chunks")
      }
      batch("embedding") {
        val chunks = spark.table("pb_chunks").select(
          (col("doc_id") * 1000L + col("chunk_index")).as("doc_id"), col("chunk_text").as("text"))
        save(Embedding.embedPortable(chunks), "pb_chunk_vecs")
      }
      batch("stores.bm25") {
        Stores.bm25Postings(spark, d); Stores.bm25Doclens(spark, d)
        Stores.bm25Df(spark, d); Stores.bm25Scalars(spark, d)
      }
      batch("stores.ivf")(Stores.ivfIndexStore(spark, d))
      batch("stores.ivfpq")(Stores.ivfPqCodesStore(spark, d))
    }
    rec.span("serve") {
      // warm-up: one request of each type, not counted
      rec.span("serve.warmup")(Types.foreach(t => collect(request(d, t, params(t)))))
      var i = 0
      while (more()) Types.foreach { t =>
        val p = params(t)
        rec.op("read", s"serve.$t", i) {
          val out = keep(request(d, t, p))
          if (!kept.contains(t)) kept(t) = (p, out)
        }
        i += 1
      }
    }
    rec.span("maintain") {
      // the first call writes the IVF base and both delta segments
      batch("write.ivf")(Stores.ivfCycle2Store(spark, d))
      rec.op("maint", "read.ivf_mor")(kept("ivf_mor") = (null, keep(Stores.ivfCycle2Store(spark, d))))
      batch("compact")(Stores.ivfCompactStore(spark, d))
      rec.op("maint", "read.ivf_compacted")(
        kept("ivf_compacted") = (null, keep(Stores.ivfCompactStore(spark, d))))
    }
  }

  def checks(d: String, dir: String): Unit = {
    def byProbe(rs: Seq[Row]) = rs.groupBy(_.getAs[Long]("probe_id"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("neighbor_id")).toSet }
    // one exact search over the probes of both ANN requests (IVF probes
    // the ten lowest ids)
    val annProbes = (0L until 10L) ++ kept("ivfpq")._1.asInstanceOf[Seq[Long]]
    val exact = byProbe(Search.knnJoin(Tables.embeddings(spark, d), k = 3,
      probes = Some(probes(d, annProbes.distinct))).collect().toSeq)
    val recalls = ArrayBuffer.empty[Double]
    for ((t, (p, out)) <- kept) t match {
      case "ivf" | "ivfpq" =>
        val ann = byProbe(out.rows)
        val want = exact.filter { case (pid, _) => if (t == "ivf") pid < 10 else
          p.asInstanceOf[Seq[Long]].contains(pid) }
        rec.check(s"serve.$t.shape", ann.keySet == want.keySet && ann.values.forall(_.size == 3),
          s"probes=${ann.keySet.size}/${want.keySet.size}")
        want.foreach { case (pid, ex) =>
          recalls += ann.getOrElse(pid, Set.empty[Long]).intersect(ex).size / ex.size.toDouble
        }
      case "bm25" =>
        val inline = Search.bm25(Tables.documents(spark, d), p.asInstanceOf[Seq[String]])
        rec.check("serve.bm25.equals_inline",
          Compare.scored(out.rows, inline.collect().toSeq, Seq("doc_id"), "score"))
      case "rrf" =>
        val (terms, q) = p.asInstanceOf[(Seq[String], Long)]
        writeOracle("serve.rrf", out.frame(spark), Search.rrfFusionSql(terms, q), dir)
      case "ivf_mor" | "ivf_compacted" =>
        writeOracle(s"maintain.$t", out.frame(spark), graft.SparkEntry.oracleSql("ann_ivf_cycle2"), dir)
    }
    rec.check("maintain.ivf.mor_equals_compacted", Compare.scored(kept("ivf_mor")._2.rows,
      kept("ivf_compacted")._2.rows, Seq("probe_id", "neighbor_id"), "cos"))
    rec.gauge("ann_recall_at_3", recalls.sum / recalls.length)
    if (rec.traced) {
      rec.gauge("deltastore.segment_bytes", (1 to 2).map(DeltaStore.cycleBytes(spark, "ivfd16", d, _)).sum.toDouble)
      rec.gauge("deltastore.segment_rows",
        (1 to 2).map { i => val (u, t) = DeltaStore.cycleRows(spark, "ivfd16", d, i); u + t }.sum.toDouble)
      // the base segment is private to Stores; its catalog table is not
      val base = spark.catalog.listTables().collect().map(_.name).find(_.contains("ivfd_base16")).get
      rec.gauge("deltastore.segments_folded", DeltaStore.manifest(spark, "ivfd16", d,
        spark.table(base), 2).filter(col("kind") =!= "base").count().toDouble)
    }
  }
}

/** A collected result: its rows and schema, enough to rebuild a frame. */
final case class Kept(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) {
  def frame(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}

/** One curation batch over the replica tier; its outputs land as tables
  * and are then read back by seeded per-document lookups. */
final class CurateBatch(s: SparkSession, r: Recorder, seed: Long) extends Workload(s, r, seed) {
  val inputs = Seq("documents", "embeddings", "lineitem")
  val Steps = Seq("minhash", "resolve", "semdedup", "components", "pagerank", "quality")
  private var docIds: Array[Long] = Array.empty

  override def setup(d: String): Unit = {
    super.setup(d)
    docIds = Tables.documents(spark, d).select(col("doc_id")).collect().map(_.getLong(0)).sorted
  }

  private def step(d: String, name: String): DataFrame = name match {
    case "minhash" => MinhashPortable.minhashLshPortable(Tables.documents(spark, d))
    case "resolve" => Dedup.resolve(Tables.documents(spark, d))
    case "semdedup" => Cluster.semdedupScaled(Tables.embeddings(spark, d))
    case "components" => GraphOps.connectedComponents(Tables.lineitem(spark, d))
    case "pagerank" => GraphOps.pageRank(Tables.lineitem(spark, d))
    case "quality" => Corpus.qualityFilter(Tables.documents(spark, d))
  }

  def timed(d: String, more: () => Boolean): Unit = {
    rec.span("curate")(Steps.foreach(n => batch(s"curate.$n")(save(step(d, n), s"pb_$n"))))
    rec.span("lookup") {
      // a document's duplicate group with each member's quality verdict
      val res = spark.table("pb_resolve")
      val q = spark.table("pb_quality")
      def lookup(id: Long) = collect(res.join(
        res.filter(col("doc_id") === id).select(col("canonical_id")), "canonical_id").join(q, "doc_id"))
      rec.span("lookup.warmup")(lookup(docIds.head))
      var i = 0
      while (more()) (0 until 12).foreach { _ =>
        val id = docIds(rng.nextInt(docIds.length))
        rec.op("read", "read.lookup", i)(lookup(id))
        i += 1
      }
    }
  }

  def checks(d: String, dir: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val keys = Map("minhash" -> "minhash_lsh_portable", "resolve" -> "dedup_resolve",
      "semdedup" -> "semdedup", "components" -> "graph_components",
      "pagerank" -> "graph_pagerank", "quality" -> "corpus_filter")
    Steps.foreach(n => writeOracle(s"curate.$n", spark.table(s"pb_$n"), oracle(keys(n)), dir))
  }
}

/** Result comparison with a float tolerance on one score column. */
object Compare {
  def scored(a: Seq[Row], b: Seq[Row], keys: Seq[String], score: String): Boolean = {
    def m(rs: Seq[Row]) = rs.map(r => keys.map(k => r.getAs[Any](k)) -> r.getAs[Double](score)).toMap
    val (x, y) = (m(a), m(b))
    x.size == a.size && x.keySet == y.keySet && x.forall { case (k, v) =>
      math.abs(v - y(k)) <= 1e-9 * math.max(1.0, math.abs(v)) }
  }
}
