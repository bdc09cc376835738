package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: every query runs on sf0.001 and returns rows;
  * every oracle key exists in queries; entry (flagship crawl) yields docs.
  */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("oracleSql keys ⊆ queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  // known-empty-by-construction results at tiny scale
  private val mayBeEmpty = Set("q_j1_seen_antijoin", "q_p1_include")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001") {
      val df = fn(spark, dir)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      assert(df.columns.nonEmpty)
    }
  }

  test("tp reads maxPartitionBytes with its size unit (\"8m\", \"128MB\")") {
    // tp repartitions when the table's bytes make fewer splits than cores;
    // a sparse `_pad` file (skipped by the parquet reader, counted by tp)
    // sets the byte size just under `cores` splits of the parsed value
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.get(key)
    def repartitions(conf: String, bytes: Long): Boolean = {
      val dir = TestSpark.tmpDir("tp")
      Seq(1, 2, 3).toDF("v").write.parquet(s"$dir/t.parquet")
      val pad = new java.io.RandomAccessFile(s"$dir/t.parquet/_pad", "rw")
      try pad.setLength(bytes) finally pad.close()
      spark.conf.set(key, conf)
      try SparkEntry.tp(spark, dir, "t").queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Repartition]
      finally spark.conf.set(key, before)
    }
    // 8m = 8 MiB: cores × 8.2 MB is under `cores` splits (a decimal
    // 8,000,000-byte reading would see `cores` splits and keep the scan)
    assert(repartitions("8m", cores * 8200000L))
    assert(!repartitions("8m", cores * 8400000L))
    assert(repartitions("128MB", cores * 134000000L))
    assert(!repartitions("128MB", cores * 134300000L))
  }

  test("entry returns extracted crawl docs") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("title"))
  }
}
