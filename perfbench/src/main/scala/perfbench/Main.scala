package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.CrawlPipeline
import graft.frontier.SeenFilters

/** Benchmark JVM: one workload, one seed, `seconds` of timed operations.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --src <program source root>
  *
  * Writes `<work>/result.json` (metrics, operation counts, check notes) and
  * the outputs `run.py` checks under `<work>/out`.
  */
object Main {

  /** Spark task threads: fewer than the host's 4 cores. */
  val Threads = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, src: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("src"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Threads]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * Threads).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    Jvm.log(s"start ${argv.mkString(" ")}")
    val a = parse(argv)
    val r = new Result
    a.workload match {
      case "full_crawl" => FullCrawl.run(a, r)
      case "corpus_analytics" => CorpusAnalytics.run(a, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(s"${a.work}/result.json", Json.obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(r.metrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(r.info.toSeq))))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Timed rounds until `seconds` have passed (at least one round). A
    * traced run times one untraced round, the base of the overhead.
    */
  def rounds[A](a: Args)(round: => A): Seq[A] = {
    val seconds = if (a.trace) 0.0 else a.seconds
    val out = ArrayBuffer.empty[A]
    val t0 = System.nanoTime()
    do out += round while ((System.nanoTime() - t0) / 1e9 < seconds)
    out.toSeq
  }

  /** Set-up time: the median of `SetupRepeats` set-ups, each from a stopped
    * session (`prepare` undoes the previous set-up's program-side state,
    * `setup` runs in the fresh session), plus one warm-up operation in the
    * last session. Returns that session and the set-up seconds. A traced
    * run, which does not report set-up time, sets up once.
    */
  def repeatedSetup(a: Args)(prepare: => Unit)(setup: SparkSession => Unit)(
      warmUp: SparkSession => Unit): (SparkSession, Double) = {
    var spark: SparkSession = null
    val secs = (1 to (if (a.trace) 1 else Sizes.SetupRepeats)).map { _ =>
      if (spark != null) spark.stop()
      prepare
      val (_, s) = Jvm.seconds { spark = session(a); setup(spark) }
      Jvm.log(f"set-up $s%.2f s")
      s
    }
    val (_, w) = Jvm.seconds(warmUp(spark))
    (spark, Stats.median(secs) + w)
  }

  def endToEnd(r: Result, ops: Seq[OpSample], setupS: Double): Unit = {
    r.note("op_walls", Json.arr(ops.map(o => Json.num(o.wall))))
    r.put("op_s", Stats.median(ops.map(_.wall)))
    r.put("cpu_s", Stats.median(ops.map(_.cpu)))
    r.put("peak_heap_mb", ops.map(_.heapMb).max)
    r.put("setup_s", setupS)
  }

  def mb(bytes: Long): Double = bytes / 1048576.0

  /** Committed table bytes under a table root (checksum side files aside). */
  def storedMb(root: String): Double = mb(Files.sizeOf(root, n => !n.endsWith(".crc")))

  /** Traced section: listener on, `ops` run again, then the layer probes.
    * Reports listener totals over the workload's traced operations, layer
    * job time over operations and probes, and the tracing overhead.
    */
  def traced(spark: SparkSession, a: Args, r: Result, untracedOpS: Double,
      ops: Trace => Seq[OpSample], probes: (Trace, LayerListener) => Unit): Unit = {
    val tr = new Trace
    val ll = new LayerListener(LayerListener.layerMap(a.src))
    spark.sparkContext.addSparkListener(ll)
    val samples = ops(tr)
    Jvm.log("traced operations done")
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    r.put("spark.jobs", ll.jobs.get.toDouble)
    r.put("spark.tasks", ll.tasks.get.toDouble)
    r.put("spark.shuffle_write_mb", mb(ll.shuffleWriteBytes.get))
    r.put("spark.spill_mb", mb(ll.spillBytes.get))
    r.put("spark.gc_s", ll.gcMs.get / 1e3)
    r.put("spark.executor_cpu_s", ll.executorCpuNs.get / 1e9)
    r.put("trace.overhead_s", Stats.median(samples.map(_.wall)) - untracedOpS)
    probes(tr, ll)
    Jvm.log("probes done")
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ll)
    Seq("pipeline", "frontier", "tables").foreach(l =>
      r.put(s"$l.job_s", ll.jobSeconds.getOrElse(l, 0.0)))
    tr.metrics.foreach { case (k, v) => r.put(k, v) }
    r.note("job_sites", Json.obj(ll.sites.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }))
  }
}

/** A run's inputs. An untraced run fills in only its own workload's; a
  * traced run probes every layer, so it prepares all of them.
  */
final case class RunInputs(store: String, salts: Map[String, Int], sf: String,
    images: String)

object Probes {
  import Ops.exec

  def inputs(spark: SparkSession, a: Main.Args): RunInputs = {
    val store = Inputs.crawlStore(spark, a.work, a.seed, Sizes.CrawlUnits)
    CrawlPipeline.ensureBucketedStore(spark, store)
    val salts = CrawlPipeline.autoSalts(CrawlPipeline.frontier(spark, store))
    RunInputs(store, salts,
      Inputs.analyticsTables(spark, a.work, a.seed, Sizes.Parts, Sizes.Docs),
      Inputs.imageStore(spark, a.work))
  }

  /** A traced resume sequence, the layer probes over its table root, and
    * the sequence's outputs for the resume checks.
    */
  def resumeProbes(spark: SparkSession, a: Main.Args, in: RunInputs, tr: Trace,
      ll: LayerListener, r: Result): Unit = {
    val root = s"${a.work}/roots/resume-probe"
    val seq = Ops.resumeSequence(spark, in.store, root, a.seed, Some(tr))
    run(spark, a, in, root, tr, ll)
    Checks.resume(spark, a, root, seq, in.store, r, compacted = true)
  }

  /** Time the benchmark's calls into each layer. `resumeRoot` holds a
    * finished resume sequence (slices, invalidation, refetch).
    */
  def run(spark: SparkSession, a: Main.Args, in: RunInputs, resumeRoot: String,
      tr: Trace, ll: LayerListener): Unit = {
    import spark.implicits._
    import graft.functions.{ImageFunctions, TextNormalize, UrlFunctions}
    val sc = spark.sparkContext
    def drain(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(sc)

    // frontier scan and the per-row functions behind it
    val fr = CrawlPipeline.frontier(spark, in.store)
    tr.span("pipeline.frontier_s")(exec(fr))
    tr.set("pipeline.frontier_rows", fr.count().toDouble)
    val storeDf = spark.read.parquet(in.store)
    tr.span("functions.phash_s")(exec(storeDf.select(ImageFunctions.phash64(col("bytes")))))
    tr.span("functions.caption_norm_s")(exec(storeDf.select(
      TextNormalize.normalizeCaptionUdf(col("caption")))))
    val ids = storeDf.select(
      regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long").as("id"))
    tr.span("functions.canonical_path_s")(exec(ids
      .select(graft.functions.CanonicalUnitPath(CrawlPipeline.seedUrlCol(col("id"))).as("u"))
      .select(col("u"), UrlFunctions.urlHash(col("u")))))

    // fetch schedule of a full run
    val full = CrawlPipeline.robotsAllowed(fr)
    val tasks = graft.fetch.FetchStage.toTasks(spark, full)
    drain()
    val firstStage = ll.maxStageId + 1
    val log = graft.fetch.FetchStage.run(spark, tasks, salts = in.salts).toDF()
    tr.span("fetch.schedule_s")(exec(log))
    drain()
    tr.set("fetch.task_skew", ll.taskSkew(firstStage))
    tr.set("fetch.task_rows", tasks.count().toDouble)

    // payload join and results commit of a full run
    val logRows = log.cache()
    logRows.count()
    val fetched = logRows.filter(col("status") === "ok")
      .select(col("unit_path"), col("id"), col("pos"), col("scheduled_ms"))
    tr.span("pipeline.payload_join_s")(exec(
      CrawlPipeline.payloadJoin(spark, in.store, fetched, None).select("id", "bytes")))
    val results = CrawlPipeline.payloadJoin(spark, in.store, fetched, None)
      .withColumn("caption", TextNormalize.normalizeCaptionUdf(col("caption")))
      .withColumn("phash_check", ImageFunctions.phash64(col("bytes")))
      .withColumn("id_group", (col("id") / 10000).cast("long"))
      .select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"),
        col("caption"), col("phash"), col("phash_check"), col("unit_path"),
        col("id_group"))
    val probeRoot = Files.fresh(s"${a.work}/roots/probe")
    val snap = tr.span("tables.append_s")(
      new graft.tables.SnapshotStore(s"$probeRoot/results").append(spark, results, "id_group"))
    tr.set("tables.files_per_commit", snap.files.size.toDouble)
    tr.set("tables.mb_per_commit", Main.mb(Files.sizeOf(s"$probeRoot/results/data",
      _.endsWith(".parquet"))))

    // filter updates: one full run's keys (bloom), one slice's keys (cuckoo)
    val keys = logRows.select(col("bucket"), col("url_hash"))
    tr.span("frontier.filter_update_s")(SeenFilters.bloom.update(spark, keys,
      "bucket", "url_hash", s"$probeRoot/bloom", 0L))
    val sliceKeys = keys.as[(Long, Long)].collect().take(Sizes.SliceLimit.toInt)
      .toSeq.toDF("bucket", "url_hash")
    tr.span("frontier.cuckoo_update_s")(SeenFilters.cuckoo.update(spark, sliceKeys,
      "bucket", "url_hash", s"$probeRoot/cuckoo", 0L))

    // a bounded slice's payload join: store rows read per joined row
    val sliceFetched = fetched.orderBy("id").limit(Sizes.SliceLimit.toInt)
      .as[(String, Long, Long, Long)].collect().toSeq
      .toDF("unit_path", "id", "pos", "scheduled_ms")
    drain()
    val read0 = ll.inputRecords.get
    exec(CrawlPipeline.payloadJoin(spark, in.store, sliceFetched, Some(Sizes.SliceLimit))
      .select("id", "bytes"))
    drain()
    tr.set("pipeline.payload_scan_ratio",
      (ll.inputRecords.get - read0).toDouble / math.max(1, sliceFetched.count()))
    logRows.unpersist()

    // the resume root as the next slice would see it
    val seen = CrawlPipeline.urlSeenStore(resumeRoot)
    val seenDf = tr.span("tables.snapshot_read_s") {
      seen.currentSnapshot.get
      val df = seen.read(spark).get
      df.queryExecution.executedPlan
      df
    }
    val cur = seen.currentVersion.get
    tr.set("tables.manifest_kb", Files.sizeOf(s"$resumeRoot/url_seen/snapshots",
      _ == s"v$cur.json") / 1024.0)
    val stores = Seq(seen, CrawlPipeline.resultsStore(resumeRoot),
      CrawlPipeline.fetchLogStore(resumeRoot), CrawlPipeline.urlSeenSummaryStore(resumeRoot))
    tr.set("tables.commits", stores.map(_.currentVersion.fold(0L)(_ + 1)).sum.toDouble)
    tr.set("pipeline.compactions",
      CrawlPipeline.urlSeenSummaryStore(resumeRoot).currentVersion.fold(0L)(_ + 1).toDouble)
    val cand = CrawlPipeline.selectCandidates(spark, resumeRoot, full, Some(seenDf),
      SeenFilters.cuckoo)
    tr.span("pipeline.select_s")(exec(cand))
    tr.set("pipeline.candidate_rows", cand.count().toDouble)

    // prefilter positives against the exact resolution fold
    val maybe = full.repartition(CrawlPipeline.NBuckets, col("bucket"))
      .filter(SeenFilters.cuckoo.predicate(s"$resumeRoot/cuckoo"))
    tr.span("frontier.prefilter_s")(exec(maybe))
    val aggs = graft.operators.CrawlOps.resolutionAggs
    val resolved = seenDf.groupBy("unit_path").agg(aggs.head, aggs.tail: _*)
      .filter(col("perm") === 1 || col("n_err") >= CrawlPipeline.MaxErrorRetries)
      .select("unit_path")
    val positives = maybe.select("unit_path").distinct().cache()
    val nPos = positives.count()
    val nRes = positives.join(resolved, "unit_path").count()
    positives.unpersist()
    tr.set("frontier.prefilter_positive_rows", nPos.toDouble)
    tr.set("frontier.resolved_rows", nRes.toDouble)
    tr.set("frontier.prefilter_useful_ratio", nRes.toDouble / math.max(1L, nPos))

    val lastSeq = seenDf.agg(max("run_seq")).first().getLong(0)
    tr.span("operators.meta_state_s")(exec(graft.operators.CrawlOps
      .metaStateWithResolution(seenDf.filter(col("run_seq") === lastSeq))))
    tr.span("pipeline.compact_s")(CrawlPipeline.compactUrlSeen(spark, resumeRoot))
    Files.deleteTree(probeRoot)
  }
}

object FullCrawl {
  import Main._

  def run(a: Args, r: Result): Unit = {
    var spark = session(a)
    val in = if (a.trace) Probes.inputs(spark, a) else
      RunInputs(Inputs.crawlStore(spark, a.work, a.seed, Sizes.CrawlUnits), Map.empty, "", "")
    val store = in.store
    var salts = in.salts
    spark.stop()
    // set-up: session, the program's one-time store ingest (bucketed
    // layout + key sidecar) and salts; then one warm-up run
    Jvm.log("inputs written")
    val (s, setupS) = repeatedSetup(a) {
      Files.deleteTree(store + "_bucketed")
      Files.deleteTree(CrawlPipeline.storeKeysDir(store))
    } { sp =>
      CrawlPipeline.ensureBucketedStore(sp, store)
      salts = CrawlPipeline.autoSalts(CrawlPipeline.frontier(sp, store))
    } { sp => Ops.fullRun(sp, store, Files.fresh(s"${a.work}/roots/warm"), salts) }
    spark = s
    var n = 0
    def op(): (CrawlPipeline.RunSummary, OpSample, String) = {
      n += 1
      val root = Files.fresh(s"${a.work}/roots/full-$n")
      Files.deleteTree(s"${a.work}/roots/full-${n - 1}")
      val (summary, sample) = Jvm.op(Ops.fullRun(spark, store, root, salts))
      (summary, sample, root)
    }
    Jvm.log("set-up done")
    val runs = rounds(a)(op())
    Jvm.log("timed operations done")
    val ops = runs.map(_._2)
    val lastRoot = runs.last._3
    r.attempted = runs.size
    endToEnd(r, ops, setupS)
    r.put("urls_per_s", runs.map(_._1.attempted).sum / ops.map(_.wall).sum)
    r.put("stored_mb", storedMb(lastRoot))
    r.note("summaries", Json.arr(runs.map(x => Json.obj(Seq(
      "attempted" -> x._1.attempted.toString, "ok" -> x._1.ok.toString,
      "result_rows" -> x._1.resultRows.toString)))))
    r.note("salts", Json.obj(salts.toSeq.map { case (h, k) => h -> k.toString }))
    r.note("store", Json.str(store))
    Checks.fullCrawl(spark, a, store, lastRoot, r)
    Jvm.log("check outputs written")
    if (a.trace) {
      traced(spark, a, r, r.metrics("op_s"),
        _ => Seq(op()._2),
        (tr, ll) => {
          Probes.resumeProbes(spark, a, in.copy(salts = salts), tr, ll, r)
          Analytics.pass(spark, in.sf, in.images, s"${a.work}/probe-analytics", Some(tr))
        })
    }
  }
}

object CorpusAnalytics {
  import Main._

  def run(a: Args, r: Result): Unit = {
    var spark = session(a)
    val in = if (a.trace) Probes.inputs(spark, a) else RunInputs("", Map.empty,
      Inputs.analyticsTables(spark, a.work, a.seed, Sizes.Parts, Sizes.Docs),
      Inputs.imageStore(spark, a.work))
    // the warm-up pass runs the same queries over smaller tables: it
    // compiles the same code paths at a fraction of a full pass's row work
    val warmSf = Inputs.analyticsTables(spark, a.work, a.seed, Sizes.WarmParts,
      Sizes.WarmDocs)
    spark.stop()
    Jvm.log("inputs written")
    // set-up: session start (the program has no input preparation of its
    // own here); then one warm-up pass
    val out = s"${a.work}/out/analytics"
    val (s, setupS) = repeatedSetup(a)(())(_ => ())(sp =>
      Analytics.pass(sp, warmSf, in.images, s"${a.work}/warm-analytics", None))
    spark = s
    Jvm.log("set-up done")
    val passes = rounds(a)(Analytics.pass(spark, in.sf, in.images, out, None))
    Jvm.log("timed operations done")
    val ops = passes.map(_._1)
    val perPass = Analytics.queries.size + 1L
    r.attempted = passes.size * perPass
    r.failed = passes.count(_._2.isDefined).toLong
    endToEnd(r, ops, setupS)
    // not a crawl rate: the part keys (one sitemap URL each, the frontier
    // the recrawl queries schedule) per second of pass time, Parts / op_s
    // for a one-pass run; it carries nothing that op_s does not
    r.put("urls_per_s", passes.size * Sizes.Parts / ops.map(_.wall).sum)
    passes.flatMap(_._2).headOption.foreach { e =>
      r.note("pair_gate_error", Json.str(Analytics.errorClass(e)))
      r.note("pair_gate_origin", Json.str(Analytics.origin(e)))
    }
    r.note("pair_gate_ok", passes.last._2.isEmpty.toString)
    r.put("stored_mb", Checks.analytics(a, in, out, r))
    if (a.trace) {
      traced(spark, a, r, r.metrics("op_s"),
        tr => Seq(Analytics.pass(spark, in.sf, in.images, out, Some(tr))._1),
        (tr, ll) => Probes.resumeProbes(spark, a, in, tr, ll, r))
    }
  }
}

/** Tiny JSON writer for the result file (values arrive pre-rendered). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
