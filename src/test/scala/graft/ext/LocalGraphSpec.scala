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
}
