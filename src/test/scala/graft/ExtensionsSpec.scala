package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL surface of the custom expressions: the shared session is built by
  * `Sessions.local`, which installs GraftExtensions, so every function
  * here resolves through the real `injectFunction` registrations.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  test("custom expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT simhash64('the quick brown fox') AS h,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       size(shingle_hashes('a b c d', 3)) AS ns,
        |       size(minhash_sig('a b c d e', 2, 16)) AS sig_len
        |""".stripMargin).head()
    assert(r.getAs[Long]("h") == graft.scale.SimHash64.compute("the quick brown fox"))
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Int]("ns") == 2)
    assert(r.getAs[Int]("sig_len") == 16)
  }

  test("top-k aggregates work in SQL GROUP BY") {
    val rows = spark.sql(
      """SELECT g, top_k(s, id, 2) AS t, top_k_str(s, w, 2) AS ts
        |FROM VALUES (1, 3.0D, 10L, 'c'), (1, 5.0D, 11L, 'a'),
        |            (1, 4.0D, 12L, 'b'), (2, 1.0D, 13L, 'z')
        |       AS v(g, s, id, w)
        |GROUP BY g""".stripMargin)
      .collect().map(r => r.getInt(0) -> r).toMap
    val t1 = rows(1).getSeq[org.apache.spark.sql.Row](1)
    assert(t1.map(e => (e.getDouble(0), e.getLong(1))) == Seq((5.0, 11L), (4.0, 12L)))
    val ts1 = rows(1).getSeq[org.apache.spark.sql.Row](2)
    assert(ts1.map(e => (e.getDouble(0), e.getString(1))) == Seq((5.0, "a"), (4.0, "b")))
    assert(rows(2).getSeq[org.apache.spark.sql.Row](1).size == 1)
  }

  test("count_min sketch aggregates in SQL and probes to exact counts") {
    val bytes = spark.sql(
      """SELECT count_min(k, 4, 256) AS sk
        |FROM VALUES (1L), (1L), (1L), (2L), (2L), (3L) AS v(k)""".stripMargin)
      .head().getAs[Array[Byte]]("sk")
    val buf = graft.scale.CMSBuffer.fromBytes(bytes)
    // 3 keys in 256 buckets: estimates are exact here, and never under
    assert(buf.estimate(1L) == 3L && buf.estimate(2L) == 2L && buf.estimate(3L) == 1L)
  }

  test("poly_hash in SQL matches the Column API") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(20)
    docs.createOrReplaceTempView("docs_ph")
    val viaSql = spark.sql("SELECT doc_id, poly_hash(text) h FROM docs_ph")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = docs.select(col("doc_id"), graft.scale.PolyHash.polyHash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaCol)
  }

  test("token-count expressions are callable from SQL and match the Column API") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(20)
    docs.createOrReplaceTempView("docs_tc")
    val viaSql = spark.sql(
      "SELECT doc_id, bpe_token_count(text) b, ws_token_count(text) w FROM docs_tc")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val viaCol = docs.select(col("doc_id"),
      graft.functions.BpeCount.bpeCount(col("text")).as("b"),
      graft.functions.WsTokenCount.wsTokenCount(col("text")).as("w"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(viaSql == viaCol)
  }

  test("SQL and Column API produce identical values over documents") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    docs.createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql("SELECT doc_id, simhash64(text) h FROM docs_ext")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = docs.select(col("doc_id"), graft.scale.SimHash64.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaCol)
  }
}
