package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Synthetic scale-up generator for the round's scale proof-point: replicate
 * the sf0.1 tables `factor`x with per-replica key remapping so keys stay
 * unique and derived values (geometry synthesized from keys, text shingles,
 * embedding dims) DECORRELATE across replicas — a plain UNION of identical
 * rows would turn dedup/near-dup queries into replica-clique finders and
 * measure data blowup, not plan scaling.
 *
 *  - fact keys shift by replica * (max+1) per table
 *  - document text gets a per-replica vowel permutation (deterministic,
 *    shingle-decorrelating, length-preserving)
 *  - embeddings rotate their dimensions by the replica index
 *  - events shift user/event ids; timestamps shift by replica hours so the
 *    timeline extends instead of piling into identical windows
 *
 * Run: sbt "runMain graft.tools.ScaleData /tmp/graft_sfx 10"
 */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_sfx")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val srcDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local("32", "WARN", graft.Sessions.catalogConfs("32"))

    def t(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def offsetOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    val reps = spark.range(factor).select(col("id").cast("int").as("rep"))

    def replicate(df: DataFrame)(remap: (DataFrame, org.apache.spark.sql.Column) => DataFrame): DataFrame =
      remap(df.crossJoin(broadcast(reps)), col("rep")).drop("rep")

    // dims pass through unchanged
    Seq("region", "nation").foreach { n =>
      t(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet")
    }

    val custOff = offsetOf(t("customer"), "c_custkey")
    val ordOff = offsetOf(t("orders"), "o_orderkey")
    val partOff = offsetOf(t("part"), "p_partkey")
    val suppOff = offsetOf(t("supplier"), "s_suppkey")

    replicate(t("customer")) { (df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + r * custOff)
    }.write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    replicate(t("supplier")) { (df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + r * suppOff)
    }.write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

    replicate(t("part")) { (df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + r * partOff)
    }.write.mode("overwrite").parquet(s"$outDir/part.parquet")

    replicate(t("orders")) { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + r * ordOff)
        .withColumn("o_custkey", col("o_custkey") + r * custOff)
    }.write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    replicate(t("lineitem")) { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + r * ordOff)
        .withColumn("l_partkey", col("l_partkey") + r * partOff)
        .withColumn("l_suppkey", col("l_suppkey") + r * suppOff)
    }.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val ev = t("events")
    val evOff = offsetOf(ev, "event_id")
    val userOff = offsetOf(ev, "user_id")
    replicate(ev) { (df, r) =>
      df.withColumn("event_id", col("event_id") + r * evOff)
        .withColumn("user_id", col("user_id") + r * userOff)
        .withColumn("ts",
          if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
            col("ts") + r.cast("long") * 3600L * 1000000000L
          else (col("ts").cast("timestamp_ntz") +
            make_interval(lit(0), lit(0), lit(0), lit(0), r)))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val docOff = offsetOf(t("documents"), "doc_id")
    // 10 deterministic vowel permutations: replica i maps aeiou -> rot_i
    val vowelMaps = (0 until factor).map { i =>
      val v = "aeiouy"
      v.drop(i % v.length) + v.take(i % v.length)
    }
    replicate(t("documents")) { (df, r) =>
      val translated = (1 until factor).foldLeft(col("text")) { (c, i) =>
        when(r === i, translate(col("text"), "aeiouy", vowelMaps(i))).otherwise(c)
      }
      df.withColumn("doc_id", col("doc_id") + r * docOff)
        .withColumn("text", translated)
    }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val vecOff = offsetOf(t("embeddings"), "vec_id")
    replicate(t("embeddings")) { (df, r) =>
      // rotate dims by replica: concat(slice(e, r+1, n-r), slice(e, 1, r))
      val e = col("embedding")
      df.withColumn("vec_id", col("vec_id") + r * vecOff)
        .withColumn("embedding",
          when(r === 0, e).otherwise(
            concat(slice(e, r + 1, size(e) - r), slice(e, lit(1), r))))
    }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    println(s"[scaledata] wrote ${factor}x $srcDir -> $outDir")
    spark.stop()
  }
}
