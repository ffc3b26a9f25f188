package graft.cdc

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Date-partitioned layout: writes partitioned by a derived date
  * column and asserts the scan prunes partitions for a date predicate
  * instead of listing/reading them all.
  */
class PartitionPruningSpec extends SparkSpec {

  test("year-partitioned orders scan prunes to the filtered year") {
    val dir = Files.createTempDirectory("graft-part").toString
    Tables(spark, sfDir).orders
      .withColumn("o_year", year(col("o_orderdate")))
      .write
      .mode("overwrite")
      .partitionBy("o_year")
      .parquet(dir)

    val pruned = spark.read
      .parquet(dir)
      .filter(col("o_year") === 1996)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(
      plan.contains("o_year#") && plan.contains("= 1996"),
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    )
    // correctness: pruned read equals filtered full read
    val full = Tables(spark, sfDir).orders
      .filter(year(col("o_orderdate")) === 1996)
      .count()
    assert(pruned.count() === full)

    // and the partition count actually shrinks
    val years = spark.read.parquet(dir).select("o_year").distinct().count()
    assert(years > 1)
  }
}
