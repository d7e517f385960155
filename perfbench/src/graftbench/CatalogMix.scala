package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** One catalog query of the pool in `perfbench/catalog.json`. */
final case class PoolQuery(name: String, kind: String, family: String, hash: String, inputRows: Long)

/**
 * catalog_mix: catalog queries over the fixed test data: the headline
 * queries plus the first CTE-staged query and the first hand-written
 * checkpoint chain of the pool, in a seed-permuted order. Each operation
 * builds one query and runs it through the noop sink.
 */
final class CatalogMix(ctx: Ctx) extends Workload(ctx) {
  import CatalogMix._

  private val dataDir = DataDir.getAbsolutePath
  val queries: Seq[PoolQuery] = select(loadPool(), ctx.seed)
  private var buildMs, stagedJobs, execS, storageMb = Seq.empty[Double]
  private var viewsLive = 0.0

  def setup(): Unit = {
    val spark = freshSession()
    Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet"))
  }

  /** Untimed: runs every query once, collecting its result and checking
    * its hash against the recorded one; this also pays query compilation
    * before the timed passes. Returns the input rows recorded for the
    * selected queries. */
  def check(rec: Recorder): Long = {
    queries.foreach { q =>
      rec.check(s"${q.name} result hash") {
        val got = resultHash(collect(build(q)))
        if (got != q.hash) System.err.println(s"[perfbench] ${q.name}: hash $got, recorded ${q.hash}")
        got == q.hash
      }
    }
    queries.map(_.inputRows).sum
  }

  private def build(q: PoolQuery): DataFrame = SparkEntry.queries(q.name)(session, dataDir)

  /** Each query through the noop sink, as the program's Bench main runs it. */
  def pass(rec: Recorder, tracer: Option[Tracer]): Unit = queries.foreach { q =>
    tracer match {
      case None => rec.op(q.name)(noop(build(q)))
      case Some(t) =>
        rec.op(q.name) {
          t.drain()
          val jobs0 = t.engine.jobs
          val (df, b) = Clock.seconds(build(q))
          t.drain()
          stagedJobs :+= (t.engine.jobs - jobs0).toDouble
          buildMs :+= b * 1e3
          execS :+= Clock.seconds(noop(df))._2
        }
        storageMb :+= session.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
        viewsLive = session.catalog.listTables().collect().count(_.isTemporary).toDouble
    }
  }

  def layerMetrics(tracer: Tracer): Map[String, Double] =
    Map(
      "catalog.build_ms" -> Stats.median(buildMs),
      "catalog.staged_jobs" -> tracer.perPass(stagedJobs.sum),
      "catalog.exec_s" -> Stats.median(execS),
      "catalog.views_live" -> viewsLive,
      "catalog.storage_mb" -> storageMb.max) ++ Pipeline.probe(session, dataDir)
}

object CatalogMix {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The test data at sf0.01 and the query pool with recorded results. */
  val DataDir = new File("perfbench/data/sf0.01")
  val PoolFile = new File("perfbench/catalog.json")

  def loadPool(): Seq[PoolQuery] =
    new ObjectMapper().readTree(PoolFile).get("queries").elements().asScala.map { n =>
      PoolQuery(n.get("name").asText, n.get("kind").asText, n.get("family").asText,
        n.get("hash").asText, n.get("input_rows").asLong)
    }.toSeq

  /** Every headline query, plus the first staged query and the first
    * checkpoint chain by name; the seed permutes the order. The list is the
    * same for every seed: a seed-drawn sample of the staged and checkpoint
    * queries, which take 1 to 6 s each, moved a run's totals by more than
    * the metrics' bounds. */
  def select(pool: Seq[PoolQuery], seed: Long): Seq[PoolQuery] = {
    val sample = Seq("staged", "checkpoint").map(kind => pool.filter(_.kind == kind).minBy(_.name))
    new scala.util.Random(seed).shuffle(pool.filter(_.kind == "headline") ++ sample)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A query's result: its column names and rows. */
  final case class Result(columns: Array[String], rows: Array[Row])

  def collect(df: DataFrame): Result = Result(df.columns, df.collect())

  /** Order-independent hash of a result: row count and the sum of 64-bit
    * row hashes over values in column-name order. */
  def resultHash(r: Result): String = {
    val order = r.columns.zipWithIndex.sortBy(_._1).map(_._2)
    def canon(v: Any): String = v match {
      case null => "\u0000"
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case x => x.toString
    }
    var sum = 0L
    var n = 0L
    r.rows.foreach { row =>
      val s = order.map(i => canon(row.get(i))).mkString("\u0001")
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      sum += (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
      n += 1
    }
    f"$n:$sum%016x"
  }
}

/**
 * Records the result hash and the input rows Spark reads for every query
 * of the pool file (see perfbench/record_catalog.py).
 */
object RecordCatalog {
  def main(args: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val file = CatalogMix.PoolFile
    val dataDir = CatalogMix.DataDir.getAbsolutePath
    val work = new File(".bench_build/work/record")
    val spark = Session.start(Runtime.getRuntime.availableProcessors(), work)
    Session.register(spark)
    val mapper = new ObjectMapper()
    val root = mapper.readTree(file)
    root.get("queries").elements().asScala.foreach { n =>
      val name = n.get("name").asText
      var h = ""
      val rows = InputRows.during(spark) {
        h = CatalogMix.resultHash(CatalogMix.collect(SparkEntry.queries(name)(spark, dataDir)))
      }
      n.asInstanceOf[ObjectNode].put("hash", h)
      n.asInstanceOf[ObjectNode].put("input_rows", rows)
      System.err.println(f"[record] $name%-40s $h $rows")
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(file, root)
    spark.stop()
    Main.deleteTree(work)
  }
}
