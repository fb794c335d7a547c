package perfbench

import graft.operators.{CmsStore, Decontaminate, DsirStore, Ingest,
  PostingIndex, ShingleIndex}
import graft.streaming.Streams
import graft.streaming.Streams.StoreFamily
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Harness.check

/** A triage-driven store group over a generated corpus in `dir`: batches
  * go through `Streams.triageMultiIngestBatch` into a shingle index plus
  * a posting store, and CMS and DSIR stores when `sketches` is set;
  * `Streams.compactGroup` folds the group,
  * and a fixed query set probes the posting store with
  * `PostingIndex.topK`. Every call is a method, so a workload decides how
  * to interleave them; [[finish]] runs the final compaction and the
  * checks. */
final class Store(spark: SparkSession, h: Harness, dir: String,
    work: String, expect: Map[String, String], sketches: Boolean) {

  val batches: Int = expect("batches").toInt
  private def docs(f: String): DataFrame =
    spark.read.parquet(s"$dir/$f.parquet")
  private lazy val sketch = Decontaminate.gramSketch(
    Decontaminate.evalGrams(docs("eval"), "text", 8).select(col("g")),
    estimatedGrams = 1L << 14)
  private val cfg = Ingest.Config("b_idx", Some(sketch), bloomN = 8,
    bloomMinHits = 2)
  private val families = StoreFamily.posting("b_post", "doc_id", "text") +:
    (if (sketches) Seq(StoreFamily.cms("b_cms", "doc_id", "text"),
      StoreFamily.dsir("b_dsir", "doc_id", "text")) else Nil)

  // doc_id -> (fate, text as stored)
  private val fates = collection.mutable.Map[Long, (String, String)]()
  private var done = 0
  private var written = 0L

  def left: Int = batches - done

  /** Builds the group over the base corpus; a rebuild starts it over. */
  def build(): Unit = {
    val base = docs("base")
    ShingleIndex.build(base, "doc_id", "text", "b_idx", buckets = 8,
      parts = 8)
    PostingIndex.build(base, "doc_id", "text", "b_post", buckets = 8)
    if (sketches) {
      CmsStore.build(base, "doc_id", "text", "b_cms", width = 4096)
      DsirStore.build(base, docs("eval"), "doc_id", "text", "b_dsir",
        buckets = 1024)
    }
    fates.clear()
    done = 0
  }

  /** Ingests the next batch, then compacts the group if `compact`. */
  def batch(compact: Boolean): Unit = {
    val b = done
    done += 1 // a batch counts once attempted
    val w0 = Store.bytesWritten()
    try {
      h.span("streaming.ingest_batch")(
        Streams.triageMultiIngestBatch(docs(s"batch_$b"), b.toLong,
          "doc_id", "text", cfg, "b_grp", families,
          route = (df, _) => df.select(col("doc_id"), col("fate"), col("text"))
            .collect().foreach(r =>
              fates(r.getLong(0)) = (r.getString(1), r.getString(2)))))
      if (compact) h.span("streaming.compact")(compactAll())
    } finally written += Store.bytesWritten() - w0
  }

  def probe(): Unit = h.span("operators.topk_probe")(topK("b_post"))

  private def compactAll(): Unit = Streams.compactGroup(spark,
    StoreFamily.shingle("b_idx", "doc_id", "text") +: families)

  private def topK(name: String) =
    PostingIndex.topK(docs("queries"), "doc_id", "text", name, 8, 10)
      .collect().map(_.toString).sorted.toSeq

  private def textBytes(df: DataFrame): Long =
    df.agg(sum(octet_length(col("text")))).head().getLong(0)

  /** Compacts the group a last time, checks it and returns what was
    * observed: every planted exact re-submission was triaged
    * `duplicate`, and the compacted posting store answers `topK` as a
    * one-shot build over the base and accepted documents does. */
  def finish(): Map[String, Any] = {
    h.op("final_compact") {
      val w0 = Store.bytesWritten()
      try compactAll() finally written += Store.bytesWritten() - w0
    }
    val files = Store.files(new java.io.File(s"$work/warehouse"))
    def ids(kind: String) = (0 until done).flatMap(b =>
      expect.get(s"$kind.$b").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
        .map(_.toLong))
    val exact = ids("exact")
    val near = ids("near")
    h.op("check_planted_exact") {
      val missed = exact.filterNot(id => fates.get(id).exists(_._1 == "duplicate"))
      check(missed.isEmpty,
        s"${missed.size} planted exact re-submissions not triaged duplicate: " +
          missed.take(5).mkString(","))
    }
    h.op("check_topk") {
      import spark.implicits._
      val accepted = fates.collect { case (id, ("accepted", t)) => (id, t) }
        .toSeq.toDF("doc_id", "text")
      PostingIndex.build(docs("base").select(col("doc_id"), col("text"))
        .unionByName(accepted), "doc_id", "text", "ref", buckets = 8)
      val got = topK("b_post")
      val want = topK("ref")
      check(got.nonEmpty && got == want,
        s"compacted store topK (${got.size} rows) differs from a one-shot " +
          s"build (${want.size} rows)")
    }
    Map(
      "batches" -> done,
      "input_bytes" -> (0 until done).map(b => textBytes(docs(s"batch_$b"))).sum,
      "base_bytes" -> textBytes(docs("base")), "bytes_written" -> written,
      "bytes_live" -> files.map(_.length).sum,
      "files" -> files.count(f => !f.getName.startsWith(".")),
      "fates" -> fates.values.groupBy(_._1).map { case (k, v) => k -> v.size },
      "planted_exact" -> exact.size, "planted_near" -> near.size,
      "planted_caught" -> (exact ++ near).count(id =>
        fates.get(id).exists(_._1 == "duplicate")))
  }
}

object Store {
  /** Bytes this process wrote through Hadoop's local file system. */
  def bytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")).flatMap(s => Option(s.getLong("bytesWritten")))
      .map(_.longValue).getOrElse(0L)

  /** Files of the group's tables (warehouse dirs `b_*`). */
  def files(warehouse: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    Option(warehouse.listFiles).toSeq.flatten
      .filter(_.getName.startsWith("b_")).flatMap(walk)
  }
}

/** The store on its own, by hand, with every family: `batches` batches, a
  * `topK` probe after each, and a compaction inside every
  * `compact_every`-th batch. */
final class StoreIngest(spark: SparkSession, h: Harness, in: String,
    work: String, expect: Map[String, String]) extends Workload {

  private val store = new Store(spark, h, in, work, expect, sketches = true)
  private val compactEvery = expect("compact_every").toInt
  private var obs = Map.empty[String, Any]
  override def observed: Map[String, Any] = obs

  def run(seconds: Double): Map[String, Any] = {
    // set-up, repeated: a rebuild starts the group over
    val prepare = (1 to 3).map(_ => Harness.timed(store.build())._1)
    val (warm, _) = Harness.timed {
      h.op("batch")(store.batch(compact = true))
      h.op("probe")(store.probe())
    }
    h.loop(seconds, () => store.left > 0) { _ =>
      (1 to compactEvery).iterator.takeWhile(_ => store.left > 0).foreach { i =>
        h.op("batch")(store.batch(compact = i == compactEvery))
        h.op("probe")(store.probe())
      }
    }
    obs = store.finish()
    Map("prepare_s" -> prepare, "warmup_s" -> warm,
      "ops_per_pass" -> 2 * compactEvery)
  }
}
