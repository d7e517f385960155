package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.GeoArrow

object EncodingExplain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("4", "ERROR")
    graft.functions.GeoRegistry.register(spark)
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .selectExpr("c_custkey",
        "st_point(cast(c_custkey % 360 - 180 as double), cast((c_custkey * 7) % 160 - 80 as double)) AS g")
    cust.cache().count()
    val structChain = (1 to 8).foldLeft(GeoArrow.toPointStruct(col("g")))(
      (p, _) => GeoArrow.translate(p, lit(1.5), lit(2.5)))
    println("==== STRUCT ====")
    cust.select(structChain.getField("x").as("x")).explain("formatted")
    spark.stop()
  }
}
