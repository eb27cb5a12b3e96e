package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.SyntheticStore
import graft.pipeline.CrawlPipeline

/** JVM side of the correctness checks: dumps the outputs `run.py` compares
  * against its own closed forms and DuckDB restatements, and decodes the
  * result images with `javax.imageio` directly.
  */
object Checks {

  private def withConf[A](spark: SparkSession, kv: (String, String)*)(f: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def dump(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  /** Decode `bytes` with ImageIO and compare with the generator's pixels:
    * exact for lossless formats, PSNR in dB for jpg (infinite when equal).
    */
  def psnr(bytes: Array[Byte], id: Long, w: Int, h: Int, fmt: String): Double = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null || img.getWidth != w || img.getHeight != h) return -1.0
    val want = SyntheticStore.pixels(id, w, h, fmt)
    var se = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val got = img.getRGB(x, y)
        val exp = want(y * w + x)
        var sh = 0
        while (sh <= 16) {
          val d = ((got >>> sh) & 0xFF) - ((exp >>> sh) & 0xFF)
          se += d * d
          sh += 8
        }
        x += 1
      }
      y += 1
    }
    if (se == 0.0) Double.PositiveInfinity
    else 10 * math.log10(255.0 * 255.0 / (se / (3.0 * w * h)))
  }

  def fullCrawl(spark: SparkSession, a: Main.Args, store: String, root: String,
      r: Result): Unit = {
    import spark.implicits._
    val out = Files.fresh(s"${a.work}/out/full")
    dump(CrawlPipeline.fetchLogStore(root).read(spark).get
      .select(col("unit_path"), col("hosting_id"), col("id"), col("pos"),
        col("scheduled_ms"), col("completed_ms"), col("retries").cast("long"),
        col("status")), s"$out/fetch_log")
    dump(CrawlPipeline.urlSeenStore(root).read(spark).get
      .select("unit_path", "status", "run_seq"), s"$out/url_seen")
    // read the many-file results table once for the dump and the decode.
    // Given its ~961 committed paths, Spark would list them with a job of
    // one task per file and open ~4 files per scan task; the check lists
    // them on the driver and packs the scan into a few tasks instead
    // (settings restored afterwards, so no timed operation sees them).
    val results = withConf(spark,
        "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "100000",
        "spark.sql.files.openCostInBytes" -> "16k") {
      val df = CrawlPipeline.resultsStore(root).read(spark).get.cache()
      df.count()
      df
    }
    dump(results.select("image_id", "unit_path", "caption", "phash", "phash_check"),
      s"$out/results")
    val ids = regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long")
    val decoded = results.select(ids.as("id"), col("bytes"), col("w"), col("h"), col("fmt"))
      .as[(Long, Array[Byte], Int, Int, String)]
      .map { case (id, b, w, h, fmt) => (fmt, psnr(b, id, w, h, fmt)) }
      .collect()
    val lossless = decoded.filter(_._1 != "jpg")
    val jpg = decoded.filter(_._1 == "jpg").map(_._2)
    results.unpersist()
    r.note("pixels_checked", decoded.length.toString)
    r.note("pixels_lossless_mismatch", lossless.count(_._2 != Double.PositiveInfinity).toString)
    r.note("pixels_jpg_below_40db", jpg.count(_ < 40.0).toString)
    r.note("pixels_jpg_min_psnr", Json.num(if (jpg.isEmpty) 0.0 else
      jpg.map(p => if (p.isInfinite) 999.0 else p).min))
  }

  /** A finished resume sequence: its url_seen events, and the resolved
    * summary after a compaction (`compacted` when the caller already ran one).
    */
  def resume(spark: SparkSession, a: Main.Args, root: String, seq: Ops.Sequence,
      store: String, r: Result, compacted: Boolean = false): Unit = {
    val out = Files.fresh(s"${a.work}/out/resume")
    r.note("resume", Json.obj(Seq(
      "store" -> Json.str(store),
      "limit" -> Sizes.SliceLimit.toString, "slices" -> Sizes.Slices.toString,
      "after" -> Sizes.InvalidateAfter.toString, "k" -> Sizes.InvalidateK.toString,
      "invalidated" -> Json.arr(seq.removed.map(Json.str)),
      "attempted" -> Json.arr(seq.summaries.map(_.attempted.toString)))))
    dump(CrawlPipeline.urlSeenStore(root).read(spark).get
      .select("unit_path", "id", "status", "run_seq"), s"$out/url_seen")
    if (!compacted) CrawlPipeline.compactUrlSeen(spark, root)
    dump(CrawlPipeline.urlSeenSummaryStore(root).read(spark).get
      .select(col("unit_path"), col("perm").cast("long"), col("n_err")),
      s"$out/summary")
  }

  /** The oracle SQL for the rows the last pass wrote under `out`; returns
    * the ten queries' output MB.
    */
  def analytics(a: Main.Args, in: RunInputs, out: String, r: Result): Double = {
    val fixedPath = "/tmp/graft_mm_store_500"
    val sql = Analytics.queries.map { case (q, _) =>
      val s = graft.SparkEntry.oracleSql(q)
      q -> Json.str(if (q == "q_vision_prep") {
        require(s.contains(fixedPath), s"q_vision_prep oracle no longer reads $fixedPath")
        s.replace(fixedPath, in.images)
      } else s)
    }
    Files.write(s"$out/oracle_sql.json", Json.obj(sql))
    r.note("sf", Json.str(in.sf))
    r.note("images", Json.str(in.images))
    Main.mb(Analytics.queries.map { case (q, _) =>
      Files.sizeOf(s"$out/$q", _.endsWith(".parquet")) }.sum)
  }
}
