package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

class LocalGraphSpec extends SparkSpec {

  /** `parts` partitions of `perPart` rows (0 until parts * perPart), with
    * a count of the rows the jobs over it pulled
    */
  private def counted(parts: Int, perPart: Int): (DataFrame, LongAccumulator) = {
    val pulled = spark.sparkContext.longAccumulator
    val rdd = spark.sparkContext.parallelize(0 until parts * perPart, parts)
      .map { i => pulled.add(1); Row(i.toLong) }
    (spark.createDataFrame(rdd, StructType(Seq(StructField("x", LongType)))), pulled)
  }

  test("collectBounded bounds the rows it moves in total, not per partition") {
    // 8 partitions of 50 rows: each under the limit of 300, all 400 over
    // it. Each partition sends at most its share of 37 rows plus one.
    val (over, pulledOver) = counted(8, 50)
    assert(LocalGraph.collectBounded(over, 300).isEmpty)
    assert(pulledOver.value <= 8 * 38)

    val (fits, _) = counted(8, 50)
    assert(LocalGraph.collectBounded(fits, 400).map(_.map(_.getLong(0)).sorted.toSeq)
      .contains(0L until 400L))
  }

  test("collectBounded answers None without a job when the limit is under the partition count") {
    val (df, pulled) = counted(8, 1)
    assert(LocalGraph.collectBounded(df, 7).isEmpty)
    assert(pulled.value == 0)
  }

  test("collectBounded bounds the bytes it moves") {
    // 4 partitions of 20 rows of 16 bytes each (UnsafeRow: null bits +
    // one long): 1280 bytes in all
    val (df, _) = counted(4, 20)
    assert(LocalGraph.collectBounded(df, 1000, maxBytes = 1280).isDefined)
    assert(LocalGraph.collectBounded(df, 1000, maxBytes = 1279).isEmpty)
  }

  test("collectBounded bounds the bytes of a relation the driver holds") {
    val s = spark
    import s.implicits._
    // UnsafeRow of (long, 1000-byte string): 8 null bits + 2 words +
    // 1000 bytes = 1024 bytes; 2048 for both rows
    val rows = Seq((1L, "x" * 1000), (2L, "y" * 1000))
    val encoded = rows.toDF("id", "t")
    val generic = LocalGraph.frame(spark, rows.map { case (i, t) =>
      org.apache.spark.sql.Row(i, t) }, encoded.schema)
    Seq(encoded, generic).foreach { df =>
      assert(LocalGraph.localRows(df).isDefined)
      assert(LocalGraph.collectBounded(df, 10, maxBytes = 2048).isDefined)
      assert(LocalGraph.collectBounded(df, 10, maxBytes = 2047).isEmpty)
    }
  }

  test("a driver-local frame is collected and evaluated without a job") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b"), (2L, "c")).toDF("id", "t")
      .select($"id", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"t", " ")).as("n"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      assert(LocalGraph.collectBounded(df, 2).map(_.map(r =>
        (r.getLong(0), r.getInt(1))).toSeq).contains(Seq((1L, 2), (2L, 1))))
      assert(LocalGraph.collectBounded(df, 1).isEmpty)
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0)
  }
}
