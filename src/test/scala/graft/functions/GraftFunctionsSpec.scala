package graft.functions

import graft.SparkSpec

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions are callable from spark.sql") {
    GraftFunctions.registerAll(spark)
    Seq((Seq(1f, 0f), Seq(1f, 0f)), (Seq(1f, 0f), Seq(0f, 1f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val sims = spark.sql("SELECT graft_cosine(a, b) AS c, graft_dot(a, b) AS d FROM vecs")
      .as[(Double, Double)].collect().toSeq
    assert(math.abs(sims(0)._1 - 1.0) < 1e-12 && sims(0)._2 == 1.0)
    assert(math.abs(sims(1)._1) < 1e-12 && sims(1)._2 == 0.0)

    val jh = spark.sql("SELECT graft_jump_hash(42L, 8) AS b").as[Int].head()
    assert(jh == HashFunctions.jumpHash(42L, 8))

    val sh = spark.sql(
      "SELECT size(graft_shingle_hashes(array('a','b','c','d'), 3)) AS n").as[Int].head()
    assert(sh == 2) // shingles: abc, bcd

    val sim = spark.sql(
      "SELECT graft_simhash(array('x','y')) = graft_simhash(array('x','y')) AS eq")
      .as[Boolean].head()
    assert(sim)

    // positional window hashes: 4 tokens, n=3 -> 2 windows, repeats kept
    val wh = spark.sql(
      "SELECT graft_window_hashes(array('a','b','a','b','a'), 2) AS w")
      .as[Seq[Long]].head()
    assert(wh.length == 4 && wh(0) == wh(2) && wh(1) == wh(3))

    // hashed-BoW score: same tokens, same weights -> deterministic sum
    val bow = spark.sql(
      """SELECT graft_bow_score(array('x','y','x'),
        |  transform(sequence(0, 4095), b -> CAST(b % 1001 - 500 AS BIGINT))) AS s
        |""".stripMargin).as[Long].head()
    val one = spark.sql(
      """SELECT graft_bow_score(array('x'),
        |  transform(sequence(0, 4095), b -> CAST(b % 1001 - 500 AS BIGINT))) AS s
        |""".stripMargin).as[Long].head()
    val oneY = spark.sql(
      """SELECT graft_bow_score(array('y'),
        |  transform(sequence(0, 4095), b -> CAST(b % 1001 - 500 AS BIGINT))) AS s
        |""".stripMargin).as[Long].head()
    assert(bow == 2 * one + oneY) // additivity over token occurrences
  }

  test("registerAll is idempotent: a second call replaces no function") {
    GraftFunctions.registerAll(spark)
    val reg = spark.sessionState.functionRegistry
    val names = Seq("graft_cosine", "graft_dot", "graft_dup_ngram_ppm",
      "graft_window_hashes", "graft_bow_score", "graft_jump_hash",
      "graft_replica_buckets", "graft_simhash", "graft_shingle_hashes")
    def builders() = names.map(n => reg.lookupFunctionBuilder(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    val before = builders()
    assert(before.forall(_.isDefined))
    GraftFunctions.registerAll(spark)
    assert(builders().zip(before).forall { case (a, b) => a.get eq b.get })
  }
}
