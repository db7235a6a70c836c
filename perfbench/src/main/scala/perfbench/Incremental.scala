package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}
import graft.sources.Sinks

/** The `incremental` workload: documents and embeddings arrive in batches
  * of contiguous ids, and each batch is deduplicated against the state the
  * earlier batches left on disk, then its survivors and the grown state are
  * written back as parquet and read again for the next batch. Batch 0
  * (about a quarter of the corpus) seeds the state during set-up; every
  * later batch has 315 documents and 126 vectors.
  *
  * The seed picks one of [[Layouts]] batch layouts (boundary offsets), so
  * every batch a seed can produce has a pinned digest. */
object Incremental {
  val Layouts = 4
  /** Batch 0 seeds the state, batch 1 is the warm-up call, batches 2-4 are
    * the timed sequence and batch 5 is issued if time remains. */
  val Batches = 6
  val SemThreshold = 0.9
  val Jaccard = 0.8

  /** Batch boundaries of a layout: doc ids and vec ids, both ascending.
    * Layouts move where the timed batches start, never their size. */
  def bounds(layout: Int): Seq[(Long, Long)] = (0 to Batches).map { i =>
    val d = if (i == 0) 0L else 1250L + (i - 1) * 315L + (layout - 2) * 50L
    (d, d * 2 / 5)
  }

  /** MinHash-LSH finds candidates approximately (recall < 1) but verifies
    * each with exact shingle Jaccard, so every drop is a true near-dup. */
  val minHashInvariant: Invariant = Invariant(
    s"every MinHash-LSH drop has exact 3-shingle Jaccard >= $Jaccard with an earlier document (LSH: recall < 1, precision = 1)",
    (fx, rows) => rows.iterator.map(r => (r.getLong(0), r.getLong(1))).collectFirst {
      case (d, of) if of >= d || fx.jaccard3(d, of) < Jaccard - 1e-9 => s"doc $d dropped as dup of $of"
    })

  /** State of one pass, kept as parquet under `dir` and re-read per batch. */
  final class Pass(fx: Fixture, val layout: Int, dir: String) {
    private val spark = fx.spark
    private val b = bounds(layout)
    private def docs(i: Int) = fx.documents.where(col("doc_id") >= b(i)._1 && col("doc_id") < b(i + 1)._1)
    private def embs(i: Int) = fx.embeddings.where(col("vec_id") >= b(i)._2 && col("vec_id") < b(i + 1)._2)
    private def read(name: String, i: Int) = spark.read.parquet(s"$dir/$name/$i")
    private def write(df: DataFrame, name: String, i: Int): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name/$i")

    private var cents: Similarity.Centroids = _
    var registryRows = 0L

    /** Batch 0 seeds the state: bucket and span registries, the frozen
      * centroids and the first batch's cell assignments. */
    def bootstrap(): Unit = {
      cents = Similarity.trainCentroids(embs(0), nCentroids = 16, iters = 2)
      write(Dedup.minHashBucketRegistry(docs(0)), "registry", 0)
      write(Dedup.spanRegistry(docs(0)), "spans", 0)
      write(Similarity.semDedupWithCents(embs(0), cents, SemThreshold).select("vec_id", "cid"), "assigned", 0)
    }

    /** Batch `i` (1 until [[Batches]]) as one call. */
    def batch(i: Int): Call = Call(s"inc:L$layout:b$i", "llm", minHashInvariant, _ => {
      val newDocs = docs(i)
      val priorDocs = fx.documents.where(col("doc_id") < b(i)._1)
      val priorEmb = fx.embeddings.where(col("vec_id") < b(i)._2)
      val registry = read("registry", i - 1)
      val spans = read("spans", i - 1)
      val assigned = read("assigned", i - 1)
      val near = Dedup.minHashDedupAgainstRegistry(newDocs, registry, priorDocs, threshold = Jaccard)
      val survivors = newDocs.join(near.where(col("dup_of").isNull).select("doc_id"), Seq("doc_id"), "left_semi")
      val spanKept = Dedup.spanDedupAgainstRegistry(newDocs, spans)
      val semKept = Similarity.semDedupAgainstState(embs(i), cents, assigned, priorEmb, SemThreshold)
      Batch(Seq(near, spanKept, semKept), () => {
        Sinks.writePartitioned(survivors, s"$dir/survivors/$i", "lang")
        write(Dedup.mergeMinHashRegistries(registry, Dedup.minHashBucketRegistry(newDocs)), "registry", i)
        write(spans.unionByName(Dedup.spanRegistry(newDocs)).distinct(), "spans", i)
        write(assigned.unionByName(semKept.select("vec_id", "cid")), "assigned", i)
        registryRows = read("registry", i).count() + read("spans", i).count() + read("assigned", i).count()
      }, () => spark.read.parquet(s"$dir/survivors/$i"), near.where(col("dup_of").isNotNull))
    })
  }
}
