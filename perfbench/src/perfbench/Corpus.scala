package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SyntheticDocs
import graft.streaming.{ContainmentStream, CurationStream, DedupStream}

/** Seeded corpus for incremental LLM-data ingest.
  *
  * Base documents are 140–200 words of English stop words and a seeded
  * pseudo-word vocabulary (long enough that every planted near-duplicate
  * stays above the 0.8 Jaccard threshold); a `shortShare` of them are
  * 20–40 words, which curation rejects. Planted on top:
  *  - near-duplicates (`dupShare` of the long docs): variant 1 of
  *    `SyntheticDocs.inflate`, id `2·base + 1` next to the original's
  *    `2·base`;
  *  - excerpts (`excerptShare` of the long docs): a contiguous 60-word
  *    span of the host, long enough to pass curation, fully contained
  *    in it.
  * Arrival order is a seeded shuffle, cut into batches of `batchDocs`.
  */
final class CorpusGen(spark: SparkSession, seed: Long, baseDocs: Int,
    dupShare: Double, excerptShare: Double, shortShare: Double,
    batchDocs: Int, warmupDocs: Int) {
  import CorpusGen._

  private val rnd = new SplittableRandom(seed)
  private val vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ren", "tus", "va", "po", "sel", "dri", "mon",
      "ta", "ve", "ril", "gan", "bo", "ste", "qui", "nor", "pla", "xe")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000) {
      val n = 2 + rnd.nextInt(2)
      seen += (0 until n).map(_ => syll(rnd.nextInt(syll.length))).mkString
    }
    seen.toArray
  }

  private def word(): String =
    if (rnd.nextDouble() < 0.28) Stop(rnd.nextInt(Stop.length))
    else {
      // skewed toward the head of the vocabulary
      val u = rnd.nextDouble()
      vocab((u * u * vocab.length).toInt)
    }

  private def text(words: Int): Array[String] = {
    val out = new Array[String](words)
    var untilStop = 8 + rnd.nextInt(8)
    for (i <- 0 until words) {
      val w = word()
      untilStop -= 1
      out(i) = if (untilStop == 0 || i == words - 1) { untilStop = 8 + rnd.nextInt(8); w + "." } else w
    }
    out
  }

  val docs: Vector[Doc] = {
    val base = (0 until baseDocs).map { b =>
      val short = rnd.nextDouble() < shortShare
      val words = if (short) text(20 + rnd.nextInt(21)) else text(140 + rnd.nextInt(61))
      (b.toLong, words, short)
    }
    val long = base.filterNot(_._3)
    val dupOf = long.filter(_ => rnd.nextDouble() < dupShare).map(_._1).toSet
    val excerptOf = long.filter(_ => rnd.nextDouble() < excerptShare)
    val byBase = base.map(b => b._1 -> b._2).toMap
    import spark.implicits._
    val variants = SyntheticDocs.inflate(
        dupOf.toSeq.map(b => (b, byBase(b).mkString(" "))).toDF("doc_id", "text"), 2)
      .filter(col("doc_id") % 2 === 1).collect()
      .map(r => Doc(r.getLong(0), r.getString(1), Dup, r.getLong(0) - 1))
    val excerpts = excerptOf.map { case (b, words, _) =>
      val at = rnd.nextInt(words.length - ExcerptWords + 1)
      Doc(ExcerptBase + b, words.slice(at, at + ExcerptWords).mkString(" "), Excerpt, 2 * b)
    }
    val originals = base.map { case (b, words, short) =>
      Doc(2 * b, words.mkString(" "), if (short) Short else Base, -1L)
    }
    val all = (originals ++ variants ++ excerpts).toArray
    // seeded Fisher–Yates shuffle: arrival order
    for (i <- all.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
    }
    all.toVector
  }

  /** Batch 0 is the warm-up batch of `warmupDocs`; batch i ≥ 1 holds
    * the next `batchDocs` arrivals. */
  def batch(i: Int): Vector[Doc] =
    if (i == 0) docs.take(warmupDocs)
    else docs.slice(warmupDocs + (i - 1) * batchDocs, warmupDocs + i * batchDocs)
  def batches: Int = 1 + (docs.size - warmupDocs) / batchDocs
}

object CorpusGen {
  val Base = 0
  val Dup = 1
  val Excerpt = 2
  val Short = 3
  val ExcerptWords = 60
  val ExcerptBase = 1000000000L
  private val Stop = Array("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

  final case class Doc(id: Long, text: String, kind: Int, partner: Long)
}

/** Workload `corpus_stream`: each arriving batch runs
  * `CurationStream.curate` (accepted rows only go on), then
  * `DedupStream.processBatch` (LSH probe + append) and
  * `ContainmentStream.processBatch` (containment probe + append); both
  * indexes grow batch by batch. Batch 0 is warm-up (set-up). */
object CorpusRun {
  val BaseDocs = 2000
  val DupShare = 0.25
  val ExcerptShare = 0.15
  val ShortShare = 0.1
  val BatchDocs = 300
  val WarmupDocs = 150
  val LshThreshold = 0.8
  val ContainThreshold = 0.9
  val MinBatches = 2
  val IndexBuckets = 32

  final case class BatchOut(i: Int, docs: Int, accepted: Int, wallS: Double,
      curateS: Double, lshS: Double, containS: Double, textBytes: Long)

  def run(rc: RunCtx): Report = {
    val spark = rc.spark
    import spark.implicits._
    val root = new File(rc.work, "corpus")
    val lshIdx = new File(root, "lsh_index").getPath
    val lshPairs = new File(root, "lsh_pairs").getPath
    val conIdx = new File(root, "containment_index").getPath
    val conPairs = new File(root, "containment_pairs").getPath
    val gen = new CorpusGen(spark, rc.seed, BaseDocs, DupShare, ExcerptShare, ShortShare, BatchDocs,
      WarmupDocs)
    val batchOf = mutable.Map.empty[Long, Int]
    val accepted = mutable.Map.empty[Long, Int]

    def runBatch(i: Int): BatchOut = {
      val docs = gen.batch(i)
      docs.foreach(d => batchOf(d.id) = i)
      val df = docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      val textBytes = docs.map(_.text.getBytes("UTF-8").length.toLong).sum
      val unit = if (i == 0) "warmup" else s"batch$i"
      val t0 = System.nanoTime()
      val out = rc.tracer.span("batch", unit) {
        rc.grouped(unit) {
          val c0 = System.nanoTime()
          val kept: DataFrame = rc.tracer.span("operators.curate", unit) {
            CurationStream.curate(df, "text").filter(col("accepted"))
              .select("doc_id", "text").localCheckpoint()
          }
          val ids = kept.select("doc_id").as[Long].collect()
          val l0 = System.nanoTime()
          rc.tracer.span("operators.lsh", unit) {
            DedupStream.processBatch(kept, i, "text", "doc_id", lshIdx, lshPairs, LshThreshold,
              numBuckets = IndexBuckets)
          }
          val k0 = System.nanoTime()
          rc.tracer.span("operators.containment", unit) {
            ContainmentStream.processBatch(kept, i, "text", "doc_id", conIdx, conPairs,
              ContainThreshold, numBuckets = IndexBuckets)
          }
          val k1 = System.nanoTime()
          kept.unpersist()
          ids.foreach(id => accepted(id) = i)
          BatchOut(i, docs.size, ids.length, 0.0, (l0 - c0) / 1e9, (k0 - l0) / 1e9,
            (k1 - k0) / 1e9, textBytes)
        }
      }
      out.copy(wallS = (System.nanoTime() - t0) / 1e9)
    }

    val warm = runBatch(0)
    val rep = new Report
    rep.setupDone()
    val timed = mutable.ArrayBuffer.empty[BatchOut]
    val deadline = System.nanoTime() + (rc.seconds * 1e9).toLong
    var i = 1
    while ((timed.size < MinBatches || System.nanoTime() < deadline) && i < gen.batches) {
      timed += runBatch(i)
      i += 1
    }
    rep.measured()
    rep.unitKey = _.startsWith("batch")
    rep.units = timed.size
    val all = warm +: timed.toSeq

    // ---- output checks -------------------------------------------------
    val bad = mutable.Map.empty[Int, mutable.ArrayBuffer[String]]
    def fail(b: Int, msg: String): Unit = { bad.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += msg; () }
    // each accepted doc is indexed exactly once in both indexes
    for ((name, table) <- Seq("lsh" -> s"$lshIdx/grams", "containment" -> s"$conIdx/docs")) {
      val got = spark.read.parquet(table).groupBy("__id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      accepted.foreach { case (id, b) =>
        val n = got.getOrElse(id, 0L)
        if (n != 1L) fail(b, s"$name index holds doc $id $n times")
      }
      (got.keySet -- accepted.keySet).foreach(id => fail(batchOf.getOrElse(id, i - 1), s"$name index holds unknown doc $id"))
    }
    def pairs(path: String, score: String): Seq[(Long, Long, Double)] =
      if (!new File(path).exists) Nil
      else spark.read.parquet(path).select("id_a", "id_b", score).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val lsh = pairs(lshPairs, "jaccard")
    val con = pairs(conPairs, "containment")
    // every emitted pair is at or above its threshold
    lsh.filter(_._3 < LshThreshold).foreach(p => fail(batchOf(p._1), s"lsh pair $p below threshold"))
    con.filter(_._3 < ContainThreshold).foreach(p => fail(batchOf(p._1), s"containment pair $p below threshold"))
    // every planted pair whose partner arrived in an earlier batch is reported
    val lshSet = lsh.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val conSet = con.map(p => (p._1, p._2)).toSet
    var planted = 0
    gen.docs.filter(d => d.partner >= 0 && accepted.contains(d.id) && accepted.contains(d.partner) &&
        batchOf(d.partner) < batchOf(d.id)).foreach { d =>
      planted += 1
      if (d.kind == CorpusGen.Dup && !lshSet((math.min(d.id, d.partner), math.max(d.id, d.partner))))
        fail(batchOf(d.id), s"near-duplicate (${d.id}, ${d.partner}) not reported")
      if (d.kind == CorpusGen.Excerpt && !conSet((d.id, d.partner)))
        fail(batchOf(d.id), s"excerpt (${d.id}, ${d.partner}) not reported")
    }
    bad.toSeq.sortBy(_._1).foreach { case (b, ms) => ms.foreach(m => rep.note(s"wrong: batch $b: $m")) }
    rep.attempted = all.size
    rep.failed = all.count(b => bad.contains(b.i))

    // ---- metrics ---------------------------------------------------------
    val walls = timed.map(_.wallS).toSeq
    val docsIn = timed.map(_.docs).sum.toDouble
    val indexBytes = Stats.dirBytes(new File(lshIdx)) + Stats.dirBytes(new File(conIdx))
    val rawBytes = all.map(_.textBytes).sum.toDouble
    rep.e2e("unit_p50_ms", Stats.median(walls) * 1e3, "ms")
    rep.e2e("work_per_s", docsIn / walls.sum, "1/s")
    rep.e2e("stored_bytes_per_raw_byte", indexBytes / rawBytes, "ratio")
    rep.named("batch_p50_s", Stats.median(walls), "s")
    rep.named("docs_per_s", docsIn / walls.sum, "1/s")
    rep.named("index_bytes_per_doc", indexBytes.toDouble / accepted.size, "B")
    rep.info("batches", timed.size.toDouble, "count")
    rep.info("docs_per_batch", BatchDocs.toDouble, "count")
    rep.info("planted_pairs_checked", planted.toDouble, "count")
    rep.info("warmup_batch_s", warm.wallS, "s")

    def med(f: BatchOut => Double) = Stats.median(timed.map(f).toSeq)
    rep.layer("operators.curate_s", med(_.curateS), "s")
    rep.layer("operators.accept_ratio", timed.map(_.accepted).sum.toDouble / docsIn, "ratio")
    rep.layer("operators.lsh_batch_s", med(_.lshS), "s")
    rep.layer("operators.lsh_pairs", lsh.size.toDouble / all.size, "count")
    rep.layer("operators.containment_batch_s", med(_.containS), "s")
    rep.layer("operators.containment_pairs", con.size.toDouble / all.size, "count")
    rep.layer("operators.index_rows",
      (spark.read.parquet(s"$lshIdx/members").count() +
        spark.read.parquet(s"$conIdx/postings").count()).toDouble, "count")
    rep.layer("core.files_written",
      (Stats.dataFiles(new File(lshIdx)) + Stats.dataFiles(new File(conIdx)) +
        Stats.dataFiles(new File(lshPairs)) + Stats.dataFiles(new File(conPairs))).toDouble / all.size,
      "count")
    rep.layer("core.bytes_written", indexBytes.toDouble / all.size, "B")
    rep
  }
}
