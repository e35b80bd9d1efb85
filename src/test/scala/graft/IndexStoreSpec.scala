package graft

import graft.ext.Dedup

class IndexStoreSpec extends SparkSpec {

  test("a directory of parquet files with no committed store version is " +
    "refused, never read as an index or as empty history") {
    val s = spark
    import s.implicits._
    val docs = (1L to 4L).map(i => (i, s"some text body number $i"))
      .toDF("doc_id", "text")
    // a band layout written straight to parquet: data, but no version
    val dir = java.nio.file.Files.createTempDirectory("store_legacy").toString
    Seq((1L, 7L, 0), (2L, 7L, 1)).toDF("id", "bandHash", "band")
      .write.mode("overwrite").partitionBy("band").parquet(dir)
    val probe = intercept[IllegalArgumentException] {
      Dedup.minhashLshPairsIncremental(spark, docs, docs, dir,
        "text", "doc_id").collect()
    }
    assert(probe.getMessage.contains("no committed index version"),
      probe.getMessage)
    intercept[IllegalArgumentException] {
      IndexStore.streaming(spark, dir).isEmpty
    }
  }
}
