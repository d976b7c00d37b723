package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import graft.GraphitiSpark
import graft.kg.Ids
import graft.search.{KgSearchConfig, SearchIndexes}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The KG-lifecycle benchmark: one single-threaded client drives graft
  * through its public API (GraphitiSpark, IncrementalIngest, SearchIndexes,
  * KgSearch, SnapshotStore, kg operators) on `local[nproc]`, closed loop.
  *
  * Both workloads bulk-load the same size of seeded corpus in set-up and
  * then run every user-facing op kind (fact search, ingest write, lookups
  * of what was written, invalidation), so every end-to-end metric is
  * measured on both. They differ in the state the searches meet:
  *  - `query`: searches on a quiet store (every index delta log empty),
  *    then the store's first micro-batch write and invalidations;
  *  - `ingest`: the first micro-batch write first, then searches that
  *    reconcile the live delta logs, then invalidations.
  *
  * Usage: Main --workload query|ingest --seed N --seconds S --trace 0|1
  *             --dir RUN_DIR --spans FILE
  * Prints `context` lines, then `PERFBENCH_RESULT {json}`.
  */
object Main {

  val Group = "default"
  val Limit = 10
  /** Corpus size in customers (150 would give the sf0.001 row counts). */
  val Customers = 100
  /** Pages per ingest write. */
  val BatchPages = 10
  /** Searches after the write in `ingest`, and invalidations per run. */
  val IngestSearches = 2
  val Mutations = 2
  /** Repetitions of each decomposition span in a traced run. */
  val LayerReps = 1
  /** No op starts after this many seconds into the run. */
  val DeadlineS = 140

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: String, spans: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("dir"), need("spans"))
    require(Set("query", "ingest").contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val bench = new Main(parse(argv))
    try bench.run()
    finally bench.close()
  }
}

final class Main(args: Main.Args) {
  import Main._

  private val nproc = Runtime.getRuntime.availableProcessors()
  private val deadlineNs = System.nanoTime() + DeadlineS * 1000000000L
  private val rnd = new scala.util.Random(args.seed ^ 0x5eedL)
  private val context = mutable.LinkedHashMap.empty[String, String]

  private val sessionStartNs = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${args.dir}/spark")
    .getOrCreate()
  private val sessionS = (System.nanoTime() - sessionStartNs) / 1e9
  spark.sparkContext.setLogLevel("ERROR")

  private val trace: Option[Trace] = if (args.trace) Some(new Trace(spark.sparkContext)) else None

  // ---- op accounting ----
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private var opSeq = 0

  private def fail(what: String): Unit = { failed += 1; failures += what }
  private def count(name: String, v: Double): Unit = counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One timed op: runs on its own thread under a Spark job group and, when
    * traced, a `facade.<kind>` span. A timeout (cancelled) or an exception
    * counts as a failed op. Returns the op's value when it completed.
    */
  private def op[A](kind: String)(body: => A): Option[A] = {
    attempted += 1
    opSeq += 1
    val group = s"perfbench-$opSeq"
    val timeoutS = math.min(90.0, (deadlineNs - System.nanoTime()) / 1e9)
    if (timeoutS <= 1) { fail(s"$kind: run deadline reached"); return None }
    @volatile var result: Option[A] = None
    @volatile var error: Throwable = null
    @volatile var wallS = 0.0
    val th = new Thread(() => {
      spark.sparkContext.setJobGroup(group, kind, interruptOnCancel = true)
      try {
        val s = System.nanoTime()
        val r = trace.fold(body)(_.span(s"facade.$kind")(body))
        wallS = (System.nanoTime() - s) / 1e9
        result = Some(r)
      } catch { case e: Throwable => error = e }
    }, s"perfbench-op-$opSeq")
    th.setDaemon(true)
    th.start()
    th.join((timeoutS * 1000).toLong)
    if (th.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      th.interrupt()
      th.join(10000)
      fail(f"$kind: timed out after $timeoutS%.0f s")
      None
    } else if (error != null) {
      fail(s"$kind: ${error.getClass.getSimpleName}: ${Option(error.getMessage).getOrElse("").take(200)}")
      None
    } else {
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += wallS
      result
    }
  }

  /** An output check; a failed check counts as a failed op. */
  private def check(what: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch { case _: Exception => false }
    if (!ok) fail(s"check failed: $what")
  }

  /** A decomposition span of the traced run; a failure counts as failed. */
  private def layer(name: String)(body: => Any): Unit = trace.foreach { t =>
    attempted += 1
    try t.span(name)(body)
    catch { case e: Exception => fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  // ---- the run ----
  private val inputs = new Inputs(args.seed, Customers)
  private val storeDir = s"${args.dir}/store"
  private var g: GraphitiSpark = _
  private var pages: DataFrame = _
  // live `lives_in` facts: contention groups of one or two rows, so every
  // invalidation rewrites the same amount
  private var livesIn: Array[String] = Array.empty
  private var pagesIngested = 0L

  private var phaseNs = System.nanoTime()
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    context(s"phase_s.$name") = f"${(now - phaseNs) / 1e9}%.2f"
    phaseNs = now
  }

  def run(): Unit = {
    context("calib_st_start_s") = f"${graft.Bench.calibrateSt()}%.4f"
    val inDir = s"${args.dir}/input"
    inputs.write(spark, inDir)
    pages = inputs.pages(spark, inDir)
    val nPages = pages.count()
    check(s"corpus has ${inputs.expected.pages} pages")(nPages == inputs.expected.pages)
    phase("inputs")

    g = new GraphitiSpark(spark, storeDir, Group)
    val bulkS = op("bulk")(g.addEpisodeBulk(pages, s"perfbench-${args.seed}")).map(_ => samples("bulk").last)
    pagesIngested = nPages
    val ex = inputs.expected
    val raw = g.store.load("raw_triples").count()
    check(s"raw triples == ${ex.rawTriples}")(raw == ex.rawTriples)
    check(s"edges == ${ex.edges}")(g.store.load("edges").count() == ex.edges)
    check(s"nodes == ${ex.nodes}")(g.store.load("nodes").count() == ex.nodes)
    livesIn = g.store.load("edges").filter(col("invalid_at").isNull && col("name") === "lives_in")
      .select("uuid").orderBy("uuid").collect().map(_.getString(0))
    phase("bulk")
    // no separate warm-up: the first search and lookup of a JVM pay codegen,
    // and the medians over several samples per run absorb that one sample
    val setupS = sessionS + bulkS.getOrElse(Double.NaN)

    args.workload match {
      case "query" =>
        readRounds()
        write()
      case "ingest" =>
        val fresh = write()
        search(s"${fresh.headOption.getOrElse(queryText())} lives in", mode = 0)
        for (_ <- 1 until IngestSearches) search(queryText(), mode = 0)
    }
    rnd.shuffle(livesIn.toSeq).take(Mutations).foreach(mutate)
    phase("measure")
    if (trace.isDefined) { decomposition(); phase("decomposition") }
    context("calib_st_end_s") = f"${graft.Bench.calibrateSt()}%.4f"

    val metrics =
      if (args.trace) layerMetrics()
      else Seq(
        ("setup_s", setupS, "s"),
        ("bulk_triples_per_s", bulkS.fold(Double.NaN)(raw / _), "triples/s"),
        ("search_p50_s", p50("search"), "s"),
        ("node_lookup_p50_s", p50("node_lookup"), "s"),
        ("edge_lookup_p50_s", p50("edge_lookup"), "s"),
        ("ingest_p50_s", p50("ingest"), "s"),
        ("mutate_p50_s", p50("mutate"), "s"),
        ("store_bytes_per_page", storeSize()._1.toDouble / pagesIngested, "B/page"),
      )
    report(metrics)
  }

  // ---- seeded op parameters ----
  private def someCustomer(): Int = rnd.nextInt(inputs.customers)
  private def customerUuid(c: Int): String = Ids.entity(Group, inputs.custName(c))
  private def someTime(): Timestamp =
    new Timestamp((graft.kg.Pages.Epoch + rnd.nextInt(inputs.customers * 60 + 2592000)) * 1000L)
  private def queryText(): String = rnd.nextInt(3) match {
    case 0 =>
      val c = someCustomer()
      s"${inputs.custName(c)} lives in ${inputs.nationName(inputs.custNation(c))}"
    case 1 => s"${inputs.suppName(rnd.nextInt(inputs.nSupp))} supplies Part#${rnd.nextInt(inputs.nParts)}"
    case _ => s"${inputs.custName(someCustomer())} placed order Order#${rnd.nextInt(inputs.nOrders)}"
  }

  // ---- ops ----
  /** searchEdges, Graphiti's default fact search. `mode` 0 = plain,
    * 1 = with the graph lane from an origin node, 2 = as of a time.
    */
  private def search(query: String, mode: Int): Unit = {
    sampleDelta()
    val origin = if (mode == 1) Some(customerUuid(someCustomer())) else None
    val asOf = if (mode == 2) Some(someTime()) else None
    op("search")(g.searchEdges(query, origin, asOf, KgSearchConfig(limit = Limit)).collect()).foreach { rows =>
      check(s"search returns at most $Limit rows")(rows.length <= Limit)
    }
  }

  private def lookupNode(uuid: String): Unit = {
    val r = op("node_lookup")(g.getNodeByUuid(uuid)).flatten
    check(s"getNodeByUuid($uuid) returns that uuid")(r.exists(_.getAs[String]("uuid") == uuid))
  }

  private def lookupEdge(uuid: String): Option[Row] = {
    val r = op("edge_lookup")(g.getEdgeByUuid(uuid)).flatten
    check(s"getEdgeByUuid($uuid) returns that uuid")(r.exists(_.getAs[String]("uuid") == uuid))
    r
  }

  /** Searches until --seconds have passed, at least one round: a plain, a
    * graph-lane and a point-in-time search.
    */
  private def readRounds(): Unit = {
    val until = System.nanoTime() + args.seconds * 1000000000L
    var rounds = 0
    while (rounds == 0 || System.nanoTime() < until) {
      rounds += 1
      for (mode <- 0 to 2) search(queryText(), mode)
    }
    context("read_rounds") = rounds.toString
  }

  /** One ingestBatch of fresh customer pages; the batch's new entities are
    * then read back by uuid. Returns the new entity surfaces. Customer pages
    * only: a supplier page states ~85 facts against a customer page's ~12,
    * so mixed batches would swing the delta-log growth (and whether the
    * write folds a log) with the seed.
    */
  private def write(): Seq[String] = {
    val tag = Inputs.tag(args.seed * 1000 + 1)
    val urls = rnd.shuffle((0 until inputs.customers).toList).take(BatchPages).map(inputs.customerUrl)
    val batch = Inputs.freshBatch(pages.filter(col("url").isin(urls: _*)), tag)
    val fresh = batch.select(col("html").cast("string")).collect().toSeq.flatMap { r =>
      "(Customer|Supplier)INC[A-Z]+#\\d+".r.findAllIn(r.getString(0))
    }.distinct.sorted
    val (bytes0, files0) = storeSize()
    op("ingest")(graft.streaming.IncrementalIngest.ingestBatch(g.store, batch, 1L, Group))
    val (bytes1, files1) = storeSize()
    pagesIngested += BatchPages
    count("streaming.bytes_written_per_page", (bytes1 - bytes0).toDouble / BatchPages)
    count("streaming.files_per_write", (files1 - files0).toDouble)
    check("the batch has new entities")(fresh.nonEmpty)
    fresh.foreach(name => lookupNode(Ids.entity(Group, name)))
    fresh
  }

  /** invalidateEdges on one live edge, then reads it back expired. */
  private def mutate(uuid: String): Unit = {
    val at = someTime()
    op("mutate")(g.invalidateEdges(Seq(uuid), at, "perfbench"))
    val r = lookupEdge(uuid)
    check(s"edge $uuid expired after invalidateEdges")(r.exists { row =>
      val e = row.getAs[Timestamp]("expired_at")
      e != null && !e.after(at)
    })
  }

  // ---- traced-only measurements ----
  private val indexTables =
    SearchIndexes.TextSurfaces.map(_._1 + "_postings") ++ Seq("edge_ann", "graph_adj", "edge_months")

  /** Live delta-log versions over every search index, and live log rows
    * as a share of the indexes' base rows; commit metadata only, no job.
    */
  private def sampleDelta(): Unit = if (trace.isDefined) {
    val st = g.store
    var versions = 0
    var logRows = 0L
    var baseRows = 0L
    indexTables.filter(st.exists).foreach { t =>
      val dt = graft.io.DeltaLog.deltaTable(t)
      if (st.exists(dt)) {
        val cur = st.currentVersion(dt).get
        val vs = st.versions(dt).filter(_ <= cur)
        val lastClear = vs.reverse.find(v => st.commitInfo(dt, v).contains("\"message\":\"compacted into base\""))
        versions += vs.count(v => lastClear.forall(v > _))
        logRows += graft.io.DeltaLog.logRows(st, t)
      }
      baseRows += st.approxRowCount(t).getOrElse(0L)
    }
    count("search.index.delta_versions", versions.toDouble)
    count("search.index.delta_rows_ratio", if (baseRows == 0) 0.0 else logRows.toDouble / baseRows)
  }

  /** (bytes, files) under the store directory. */
  private def storeSize(): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    val w = Files.walk(Paths.get(storeDir))
    try w.forEach { p => if (Files.isRegularFile(p)) { bytes += Files.size(p); files += 1 } }
    finally w.close()
    (bytes, files)
  }

  /** Layer spans for the traced run, after the measured ops: single-lane
    * searches and the index probes under them on the workload store, then
    * the bulk pipeline's operators on the seeded pages and the index
    * builders one family at a time.
    */
  private def decomposition(): Unit = {
    import spark.implicits._
    val st = g.store
    for (_ <- 0 until LayerReps) {
      val q = queryText()
      val origin = customerUuid(someCustomer())
      def lane(keyword: Boolean, semantic: Boolean, graph: Boolean) =
        KgSearchConfig(limit = Limit, keywordLane = keyword, semanticLane = semantic, graphLane = graph)
      layer("search.lane.keyword")(g.searchEdges(q, config = lane(true, false, false)).collect())
      layer("search.lane.semantic")(g.searchEdges(q, config = lane(false, true, false)).collect())
      layer("search.lane.graph")(g.searchEdges(q, Some(origin), config = lane(false, false, true)).collect())
      val terms = q.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
      layer("search.postings")(SearchIndexes.postingsForTerms(st, "edges", terms.toDF("term")).collect())
      layer("sim.ann_probe") {
        val qv = Seq((0L, graft.kg.Embedder.embed(q).toSeq)).toDF("qid", "qv")
        val sigs = qv.select(
          explode(graft.sim.Ann.probeSignaturesCol(col("qv"), SearchIndexes.annPlanes, SearchIndexes.annProbes)).as("sig"),
        )
        SearchIndexes.annForSigs(st, sigs).collect()
      }
      layer("graph.bfs")(graft.graph.GraphOps.bfsIndexed(
        f => SearchIndexes.adjacencyForKeys(st, f).select(col("src"), col("dst")), Seq(origin).toDF("node"), 3,
      ).collect())
      val keys = Seq.fill(2)(customerUuid(someCustomer())).toDF("uuid")
      layer("io.load_for_keys")(st.loadForKeys("nodes", keys, Seq("uuid")).collect())
      val f = st.probeFootprint("nodes", keys, Seq("uuid"))
      count("io.probe.bytes_fraction", f.probedBytes.toDouble / math.max(1L, f.totalBytes))
    }

    val scratch = new graft.io.SnapshotStore(spark, s"${args.dir}/decomposition")
    var text: DataFrame = null
    var triples: DataFrame = null
    layer("kg.html_text") {
      text = pages.select("url", "warc_ts", "html").as[(String, Timestamp, Array[Byte])]
        .map { case (u, ts, h) => (u, graft.kg.HtmlText.extractFast(new String(h, "UTF-8")), ts) }
        .toDF("url", "text", "warc_ts").localCheckpoint()
    }
    layer("kg.extract") { triples = graft.kg.Extract.triplesTs(spark, text).localCheckpoint() }
    layer("kg.link") {
      val surfaces = triples.select(explode(array(col("subj"), col("obj"))).as("name")).distinct()
      val nodes = graft.kg.Extract.entityNodes(surfaces, Group).select("uuid", "name", "group_id")
      graft.kg.Linking.canonicalMap(graft.kg.Linking.duplicatePairs(nodes)).collect()
    }
    layer("kg.invalidate") {
      def uuidOf(prefix: String, c: String) = md5(concat(lit(s"$prefix|$Group|"), col(c)))
      graft.kg.Invalidation.dedupeAndInvalidate(triples.select(
        uuidOf("en", "subj").as("source_uuid"), col("pred").as("name"), uuidOf("en", "obj").as("target_uuid"),
        col("fact"), lit(Group).as("group_id"), col("warc_ts").as("valid_at"), col("warc_ts").as("created_at"),
        array(uuidOf("ep", "url")).as("episodes"),
      )).count()
    }
    layer("io.commit")(scratch.commit(triples.withColumn("group_id", lit(Group)), "raw_triples", "perfbench"))
    scratch.deleteRoot()
    layer("search.index.text")(SearchIndexes.TextSurfaces.collect {
      case (t, id, c) if st.exists(t) => SearchIndexes.buildText(st, t, id, c)
    })
    layer("search.index.ann")(SearchIndexes.buildAnn(st))
    layer("search.index.graph")(SearchIndexes.buildGraph(st))
    layer("search.index.temporal")(SearchIndexes.buildTemporal(st))
  }

  // ---- output ----
  private def p50(kind: String): Double =
    samples.get(kind).filter(_.nonEmpty).fold(Double.NaN)(s => Stats.median(s.toSeq))

  private val facadeOps = Seq("bulk", "search", "node_lookup", "edge_lookup", "ingest", "mutate")
  private val layerSpans = Seq(
    "kg.html_text", "kg.extract", "kg.link", "kg.invalidate", "io.commit",
    "search.index.text", "search.index.ann", "search.index.graph", "search.index.temporal",
    "search.lane.keyword", "search.lane.semantic", "search.lane.graph", "search.postings",
    "sim.ann_probe", "graph.bfs", "io.load_for_keys",
  )
  private val countMetrics = Seq(
    ("io.probe.bytes_fraction", "ratio"),
    ("streaming.bytes_written_per_page", "B/page"),
    ("streaming.files_per_write", "count"),
    ("search.index.delta_versions", "count"),
    ("search.index.delta_rows_ratio", "ratio"),
  )

  /** Per-layer metrics: per-call medians over the run's spans of a name;
    * the spans themselves are written to --spans.
    */
  private def layerMetrics(): Seq[(String, Double, String)] = {
    val t = trace.get
    t.drain()
    val recs = t.records
    Files.write(Paths.get(args.spans), recs.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    def med(name: String)(f: Trace.Record => Double): Double = {
      val xs = recs.filter(_.name == name).map(f)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val facade = facadeOps.flatMap { o =>
      val n = s"facade.$o"
      Seq(
        (s"$n.wall_s", med(n)(_.wallS), "s"),
        (s"$n.jobs", med(n)(_.jobs.toDouble), "count"),
        (s"$n.tasks", med(n)(_.tasks.toDouble), "count"),
        (s"$n.task_s", med(n)(_.taskS), "s"),
        (s"$n.idle_s", med(n)(_.idleS), "s"),
        (s"$n.shuffle_bytes", med(n)(_.shuffleBytes.toDouble), "B"),
        (s"$n.spill_bytes", med(n)(_.spillBytes.toDouble), "B"),
        (s"$n.skew", med(n)(_.skew), "ratio"),
      )
    }
    val layers = layerSpans.flatMap { n =>
      Seq(
        (s"$n.wall_s", med(n)(_.wallS), "s"),
        (s"$n.jobs", med(n)(_.jobs.toDouble), "count"),
        (s"$n.task_s", med(n)(_.taskS), "s"),
        (s"$n.shuffle_bytes", med(n)(_.shuffleBytes.toDouble), "B"),
      )
    }
    val cs = countMetrics.map { case (n, u) => (n, counts.get(n).fold(Double.NaN)(s => Stats.median(s.toSeq)), u) }
    facade ++ layers ++ cs
  }

  private def report(metrics: Seq[(String, Double, String)]): Unit = {
    samples.foreach { case (k, s) =>
      val tail = Stats.tailPercentile(s.size).fold("tail=n/a (<20 samples)")(p => f"p$p=${Stats.quantile(s.toSeq, p / 100.0)}%.4f")
      context(s"samples.$k") = f"n=${s.size} p50=${Stats.median(s.toSeq)}%.4f $tail"
    }
    metrics.filter(_._2.isNaN).foreach(m => fail(s"metric ${m._1} has no samples"))
    context("failures") = failures.take(10).mkString(" | ")
    context.foreach { case (k, v) => println(s"context $k: $v") }
    val body = metrics.filterNot(_._2.isNaN).map { case (n, v, u) =>
      s""""$n":{"value":${java.math.BigDecimal.valueOf(v).toPlainString},"unit":"$u"}"""
    }
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${body.mkString(",")}}}""")
  }

  def close(): Unit = spark.stop()
}
