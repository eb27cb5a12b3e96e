package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.CrawlPipeline
import graft.frontier.{CuckooSeen, SeenFilters}

/** Sizes of the benchmark's inputs and operations. */
object Sizes {
  /** Frontier units (store rows) of the crawl store. */
  val CrawlUnits = 3000
  /** The traced resume sequence: slice size, slices, and the invalidation. */
  val SliceLimit = 400L
  val Slices = 3
  val InvalidateAfter = 1
  val InvalidateK = 100
  /** corpus_analytics: part keys (planted corpora, manifests, sitemap
    * frontier) and documents (n-gram Jaccard).
    */
  val Parts = 5000
  val Docs = 2000
  /** The analytics warm-up pass's tables. */
  val WarmParts = 1000
  val WarmDocs = 400
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3
}

/** Everything a run reports back to `run.py`. */
final class Result {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def put(k: String, v: Double): Unit = metrics(k) = v
  def note(k: String, v: String): Unit = info(k) = v
}

object Ops {
  def exec(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def fullRun(spark: SparkSession, store: String, root: String,
      salts: Map[String, Int]): CrawlPipeline.RunSummary =
    CrawlPipeline.run(spark, store, root, None, salts,
      seenFilters = SeenFilters.bloom)

  def slice(spark: SparkSession, store: String, root: String): CrawlPipeline.RunSummary =
    CrawlPipeline.run(spark, store, root, Some(Sizes.SliceLimit),
      seenFilters = SeenFilters.cuckoo)

  /** The `k` resolved `ok` units picked by `seed`, as a local (already
    * materialized) frame of (unit_path, bucket, url_hash).
    */
  def invalidationKeys(spark: SparkSession, root: String, seed: Long,
      k: Int): DataFrame = {
    import spark.implicits._
    val ok = CrawlPipeline.urlSeenStore(root).read(spark).get
      .filter(col("status") === "ok")
      .select("unit_path", "bucket", "url_hash").distinct()
      .as[(String, Long, Long)].collect().sortBy(_._1)
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(ok.toSeq).take(k).toDF("unit_path", "bucket", "url_hash")
  }

  final case class Sequence(slices: Seq[OpSample], units: Long,
      remove: OpSample, removed: Seq[String], summaries: Seq[CrawlPipeline.RunSummary])

  /** One resume sequence on a fresh table root: `Slices` bounded slices,
    * with the targeted invalidation of `InvalidateK` resolved units after
    * slice `InvalidateAfter`.
    */
  def resumeSequence(spark: SparkSession, store: String, root: String,
      seed: Long, trace: Option[Trace]): Sequence = {
    Files.fresh(root)
    val slices = ArrayBuffer.empty[OpSample]
    val summaries = ArrayBuffer.empty[CrawlPipeline.RunSummary]
    var remove: OpSample = null
    var removed = Seq.empty[String]
    for (i <- 1 to Sizes.Slices) {
      if (i == Sizes.InvalidateAfter + 1) {
        val keys = invalidationKeys(spark, root, seed, Sizes.InvalidateK)
        removed = keys.select("unit_path").collect().map(_.getString(0)).toSeq
        val (failed, s) = Jvm.op(trace.fold(removeKeys(spark, keys, root))(
          _.span("frontier.remove_s")(removeKeys(spark, keys, root))))
        require(failed == 0L, s"$failed invalidated keys could not be removed")
        remove = s
      }
      val (summary, s) = Jvm.op(slice(spark, store, root))
      slices += s
      summaries += summary
    }
    Sequence(slices.toSeq, summaries.map(_.attempted).sum, remove, removed,
      summaries.toSeq)
  }

  private def removeKeys(spark: SparkSession, keys: DataFrame, root: String): Long =
    CuckooSeen.removeKeys(spark, keys, "bucket", "url_hash", s"$root/cuckoo")
}

/** corpus_analytics: one pass = ten queries, then the pair gate over the
  * constant image store.
  */
object Analytics {
  import graft.fixtures.PlantedFixtures

  /** Query → the per-layer metric its time is reported under. */
  val queries: Seq[(String, String)] = Seq(
    "q_minhash_lsh" -> "operators.minhash_lsh_s",
    "q_ngram_jaccard" -> "operators.ngram_jaccard_s",
    "q_simhash_pairs" -> "operators.simhash_pairs_s",
    "q_image_neardup" -> "operators.image_neardup_s",
    "q_vision_prep" -> "operators.vision_prep_s",
    "q_normalize_manifest" -> "normalize.manifest_s",
    "q_normalize_v1" -> "normalize.okh_v1_s",
    "q_rdf_triples" -> "serialize.rdf_s",
    "q_recrawl_due" -> "frontier.recrawl_due_s",
    "q_crawl_budget" -> "frontier.allocate_budget_s")

  /** The query's frame. The two image queries are restated over the
    * benchmark's own copy of the 500-row image store (the program's query
    * definitions read a fixed path outside the checkout); all other
    * queries are `SparkEntry.queries` as they stand.
    */
  def frame(spark: SparkSession, name: String, sf: String, images: String): DataFrame =
    name match {
      case "q_image_neardup" =>
        val P = PlantedFixtures
        val planted = spark.range(1L, 20L).select(col("id").as("doc_a"),
          explode(array(
            struct(lit("exact").as("variant"), lit(P.CloneExact).as("off")),
            struct(lit("reencode").as("variant"), lit(P.CloneScaled).as("off")),
            struct(lit("brightness").as("variant"), lit(P.CloneShifted).as("off"))))
            .as("c"))
          .select(col("doc_a"), (col("doc_a") + col("c.off")).as("doc_b"),
            col("c.variant"))
        graft.operators.MultimodalOps.imageNearDupPairsOf(spark,
          P.imageNearDupCorpus(spark, images), s"img-planted:$images")
          .filter(col("doc_a") < 20)
          .join(planted, Seq("doc_a", "doc_b"), "full_outer")
          .select(col("doc_a"), col("doc_b"), col("variant"),
            when(col("hamming").isNotNull, 1L).otherwise(0L).as("detected"),
            col("hamming").cast("long").as("hamming"))
      case "q_vision_prep" =>
        graft.operators.MultimodalOps.visionPrep(spark, spark.read.parquet(images))
      case q => graft.SparkEntry.queries(q)(spark, sf)
    }

  def pairGate(spark: SparkSession, images: String): DataFrame =
    graft.operators.MultimodalOps.pairGate(spark, spark.read.parquet(images))

  /** One pass with a cleared plan cache, each query's rows written as
    * parquet under `out` (replacing the previous pass's). Returns the pass
    * sample (the ten queries only) and the pair gate's failure, if any.
    */
  def pass(spark: SparkSession, sf: String, images: String, out: String,
      trace: Option[Trace]): (OpSample, Option[Throwable]) = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name")
    graft.PlanCache.clear(spark)
    val (_, s) = Jvm.op(queries.foreach { case (q, metric) =>
      val df = frame(spark, q, sf, images)
      trace.fold(write(df, q))(_.span(metric)(write(df, q)))
    })
    val gate = try {
      trace.fold(write(pairGate(spark, images), "pair_gate"))(
        _.span("operators.pair_gate_s")(write(pairGate(spark, images), "pair_gate")))
      None
    } catch { case e: Exception => Some(e) }
    (s, gate)
  }

  /** Where in the program a failure was raised: the first `File.scala:N`
    * of a program source named in the error text or its stack.
    */
  def origin(e: Throwable): String = {
    val pat = "([A-Z][A-Za-z]+\\.scala:\\d+)".r
    val texts = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).flatMap { t =>
      Iterator(Option(t.getMessage).getOrElse("")) ++
        t.getStackTrace.iterator.filter(_.getClassName.startsWith("graft."))
          .map(f => s"${f.getFileName}:${f.getLineNumber}")
    }
    texts.flatMap(pat.findFirstIn(_)).find(_ => true).getOrElse("unknown")
  }

  def errorClass(e: Throwable): String = {
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
    "\\[([A-Z_]+)\\]".r.findFirstMatchIn(msg).map(_.group(1))
      .getOrElse(e.getClass.getSimpleName)
  }
}
