package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** JIT warm-up before the first timed call, the same for every workload
  * and kept to one query — the first Spark job of a JVM pays most of the
  * start-up cost: a real column read (a parquet `count()` is metadata-only)
  * feeding a hash aggregate. Operator-specific warm-up is left to the cold
  * pass, which is measured.
  */
object Warmup {
  def run(spark: SparkSession, data: String): Unit = {
    def t(n: String) = Tables.load(spark, data, n)
    t("lineitem").agg(sum("l_extendedprice"), sum("l_quantity"), max("l_returnflag")).collect()
  }
}
