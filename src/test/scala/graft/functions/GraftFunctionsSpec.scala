package graft.functions

import graft.SparkSpec

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("dot_product is callable from SQL after runtime registration") {
    GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .as[Double].collect().head
    assert(out == 32.0)
  }

  test("dot_product rejects wrong arity with a clear message") {
    GraftFunctions.register(spark)
    val ex = intercept[Exception] {
      spark.sql("SELECT dot_product(array(1.0d))").collect()
    }
    assert(ex.getMessage.contains("2 arguments"))
  }

  test("dot_product type-checks its inputs") {
    GraftFunctions.register(spark)
    val ex = intercept[Exception] {
      spark.sql("SELECT dot_product('a', 'b')").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("array<double>"))
  }

  test("simhash60 is callable from SQL") {
    GraftFunctions.register(spark)
    val sh = spark.sql("SELECT simhash60('the quick brown fox') AS s")
      .as[Long].collect().head
    val shCol = Seq("the quick brown fox").toDF("t")
      .select(SimHash60(org.apache.spark.sql.functions.col("t")))
      .as[Long].collect().head
    assert(sh == shCol && sh >= 0 && sh < (1L << 60))
  }

  test("minhash_sig and media_dims are callable from SQL") {
    GraftFunctions.register(spark)
    val sig = spark.sql(
      "SELECT minhash_sig('the quick brown fox jumps', 3, true) AS s")
      .as[Seq[Long]].collect().head
    val sigCol = Seq("the quick brown fox jumps").toDF("t")
      .select(MinHashSig(org.apache.spark.sql.functions.col("t"), 3, word = true))
      .as[Seq[Long]].collect().head
    assert(sig == sigCol && sig.length == graft.ext.Dedup.NumPerms)

    val csig = spark.sql(
      "SELECT minhash_classic_sig('the quick brown fox jumps', 3, true) AS s")
      .as[Seq[Long]].collect().head
    val csigCol = Seq("the quick brown fox jumps").toDF("t")
      .select(MinHashClassicSig(
        org.apache.spark.sql.functions.col("t"), 3, word = true))
      .as[Seq[Long]].collect().head
    assert(csig == csigCol && csig.length == graft.ext.Dedup.NumPerms)
    assert(csig != sig, "classic and densified-OPH signatures coincide")

    // 1×1 transparent-pixel PNG header: width/height parse to (1, 1)
    val dims = spark.sql(
      "SELECT media_dims(unhex('89504E470D0A1A0A0000000D49484452" +
        "000000010000000108060000001F15C489')) AS d")
      .select("d.width", "d.height").as[(Int, Int)].collect().head
    assert(dims == ((1, 1)))
  }

  test("minhash_sig and minhash_classic_sig require literal parameters") {
    GraftFunctions.register(spark)
    for (fn <- Seq("minhash_sig", "minhash_classic_sig");
         call <- Seq(s"$fn('x', n, true)", s"$fn('x', 3, n > 0)")) {
      val ex = intercept[Exception] {
        spark.sql(s"SELECT $call FROM (SELECT 3 AS n)").collect()
      }
      assert(ex.getMessage.contains(s"$fn n and word must be literals"),
        s"$call: ${ex.getMessage}")
    }
  }
}
