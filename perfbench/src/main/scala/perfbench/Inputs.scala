package perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.fixtures.SyntheticStore

/** Seeded benchmark inputs. Everything the program reads is generated here
  * and written as parquet; the program receives only the files.
  *
  * Directories are keyed by seed and size, and every run deletes and
  * rewrites them: the program's store preparation trusts any dump with the
  * right row count and any key sidecar whose `_SUCCESS` exists, so a store
  * regenerated in place under a reused name would serve stale keys.
  */
object Inputs {

  /** Crawl store: image side lengths (px) and the id range ids are drawn
    * from, both as in `graft.Bench`'s 300k crawl: the results table is
    * partitioned by `id_group` = id / 10000, so ids from 1..300000 give its
    * 31 groups and the same many-file results write.
    */
  val MinPx = 32
  val MaxPx = 160
  val CrawlIdRange = 300000L
  /** Analytics part keys are drawn from 0..PartKeyRange-1, sf0.1's key range. */
  val PartKeyRange = 20000L

  /** Seeded caption blanks in the crawl store: 4% empty, 4% whitespace-only. */
  val EmptyCaptionPct = 4
  val BlankCaptionPct = 4
  val Blank = " \t "

  /** The analytics image store: a constant id set (1..500, the program's
    * own fixture size) whose captions are blanked at fixed ids, so the
    * pair-gate operation fails on inputs that do not depend on the seed.
    */
  val ImageStoreRows = 500L
  def fixedCaption(id: Long): String =
    if (id % 25 == 0) "" else if (id % 25 == 1) Blank else SyntheticStore.caption(id)

  private def mix(seed: Long, salt: Long, x: Long): Long =
    SyntheticStore.mix64(SyntheticStore.mix64(seed * 0x9E3779B97F4A7C15L + salt) ^ x)

  private def floorMod(h: Long, n: Long): Long = Math.floorMod(h, n)

  /** `n` distinct ids from 1..range, picked by the seed. */
  def storeIds(seed: Long, n: Int, range: Long): Array[Long] = {
    val rnd = new java.util.SplittableRandom(mix(seed, 1L, 0L))
    val picked = new java.util.BitSet((range + 1).toInt)
    var k = 0
    while (k < n) {
      val id = 1L + rnd.nextLong(range)
      if (!picked.get(id.toInt)) { picked.set(id.toInt); k += 1 }
    }
    picked.stream().toArray.map(_.toLong)
  }

  def seededCaption(seed: Long, id: Long): String = {
    val r = floorMod(mix(seed, 2L, id), 100L)
    if (r < EmptyCaptionPct) ""
    else if (r < EmptyCaptionPct + BlankCaptionPct) Blank
    else SyntheticStore.caption(id)
  }

  def storeDir(work: String, seed: Long, n: Int): String =
    s"$work/inputs/store_seed${seed}_n${n}_px$MinPx-$MaxPx"

  def writeStore(spark: SparkSession, dir: String, ids: Array[Long],
      caption: Long => String, minPx: Int, maxPx: Int, files: Int): Unit = {
    import spark.implicits._
    Files.deleteTree(dir)
    spark.createDataset(ids.toSeq).repartition(files)
      .map(id => SyntheticStore.row(id, minPx, maxPx).copy(caption = caption(id)))
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Crawl store for `seed`: ids, payloads and caption blanks by seed. */
  def crawlStore(spark: SparkSession, work: String, seed: Long, n: Int): String = {
    val dir = storeDir(work, seed, n)
    writeStore(spark, dir, storeIds(seed, n, CrawlIdRange), id => seededCaption(seed, id),
      MinPx, MaxPx, 12)
    dir
  }

  def imageStore(spark: SparkSession, work: String): String = {
    val dir = s"$work/inputs/images_n$ImageStoreRows"
    writeStore(spark, dir, (1L to ImageStoreRows).toArray, fixedCaption,
      8, 64, 4)
    dir
  }

  private val adjectives = Array("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring",
    "rod", "widget")
  private val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
    "STANDARD")
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "de", "fr", "es", "zh")

  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** The analytics tables (`part`, `documents`) under `<work>/inputs/sf_seed<seed>`:
    * a seeded part-key set and seeded documents, 15% of which are
    * near-copies (1-3 words replaced) of an earlier document.
    */
  def analyticsTables(spark: SparkSession, work: String, seed: Long,
      nParts: Int, nDocs: Int): String = {
    import spark.implicits._
    val dir = s"$work/inputs/sf_seed${seed}_p${nParts}_d$nDocs"
    Files.deleteTree(dir)
    val keys = storeIds(seed ^ 0x5A5AL, nParts, PartKeyRange).map(_ - 1L)
    val parts = keys.map { k =>
      val h = mix(seed, 3L, k)
      Part(k, s"${adjectives(floorMod(h, 8).toInt)} ${nouns(floorMod(h >>> 8, 8).toInt)}",
        s"Brand#${1 + floorMod(h >>> 16, 25)}", types(floorMod(h >>> 24, 6).toInt),
        1 + floorMod(h >>> 32, 50).toInt, 900.0 + floorMod(h >>> 40, 1000) / 10.0)
    }
    val rnd = new java.util.SplittableRandom(mix(seed, 4L, 0L))
    val texts = new Array[Array[String]](nDocs)
    val docs = (0 until nDocs).map { i =>
      val words =
        if (i > 10 && rnd.nextInt(100) < 15) {
          val w = texts(rnd.nextInt(i)).clone()
          (0 until 1 + rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length)))
          w
        } else Array.fill(10 + rnd.nextInt(51))(vocab(rnd.nextInt(vocab.length)))
      texts(i) = words
      val text = words.mkString(" ")
      Document(i.toLong, text, langs(rnd.nextInt(langs.length)),
        s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    spark.createDataset(parts.toSeq).coalesce(1).write.parquet(s"$dir/part.parquet")
    spark.createDataset(docs).coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }
}

/** Small filesystem helpers (benchmark-owned directories only). */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => JFiles.delete(f))
      finally s.close()
    }
  }

  def fresh(dir: String): String = {
    deleteTree(dir)
    JFiles.createDirectories(Paths.get(dir))
    dir
  }

  /** Bytes of regular files under `dir`, optionally only those whose name matches. */
  def sizeOf(dir: String, keep: String => Boolean = _ => true): Long = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) 0L
    else {
      val s = JFiles.walk(p)
      try {
        var total = 0L
        s.filter(f => JFiles.isRegularFile(f) && keep(f.getFileName.toString))
          .forEach(f => total += JFiles.size(f))
        total
      } finally s.close()
    }
  }

  def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    JFiles.createDirectories(p.getParent)
    JFiles.writeString(p, content)
  }
}
