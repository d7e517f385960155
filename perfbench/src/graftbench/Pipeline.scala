package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Dedup, Similarity}

/** pipeline.* for catalog_mix: the training-data operators called directly
  * on the catalog's documents and embeddings. */
object Pipeline {
  val K = 10

  def probe(spark: SparkSession, dataDir: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
    def timed(f: => DataFrame): (Long, Double) = Clock.seconds(f.count())
    def lsh(threshold: Double) =
      Dedup.minhashLshPairs(docs, "doc_id", "text", shingleSize = 3, bands = 32, rowsPerBand = 4,
        threshold = threshold)
    val (verified, minhashS) = timed(lsh(0.5))
    // threshold 0 keeps every candidate pair the LSH buckets produce
    val (candidates, _) = timed(lsh(0.0))
    val (_, simhashS) = timed(Dedup.simhashPairsMd5(docs, "doc_id", "text", maxHamming = 3))
    val centroids = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    val r = new scala.util.Random(7)
    val runs = (1 to 5).map { _ =>
      val q = Array.fill(64)(r.nextGaussian())
      def ids(df: DataFrame) = df.select("vec_id").collect().map(_.getLong(0)).toSet
      val (ivf, ivfS) = Clock.seconds(ids(Similarity.ivfTopK(emb, "vec_id", "embedding", centroids, q, K, nProbe = 2)))
      val (exact, bruteS) = Clock.seconds(ids(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, K)))
      ((ivf & exact).size.toDouble / K, ivfS, bruteS)
    }
    Map(
      "pipeline.lsh_precision" -> verified.toDouble / math.max(candidates, 1),
      "pipeline.ann_recall_at_k" -> Stats.mean(runs.map(_._1)),
      "pipeline.minhash_lsh_s" -> minhashS,
      "pipeline.simhash_s" -> simhashS,
      "pipeline.ivf_topk_s" -> Stats.median(runs.map(_._2)),
      "pipeline.brute_topk_s" -> Stats.median(runs.map(_._3)))
  }
}
