package graft.functions

import org.apache.spark.sql.{SparkSession, functions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.UserDefinedFunction

/** SQL registration for graft's function surface, so `spark.sql` users
  * can call the engine's primitives directly (the reference's plugin
  * mechanism — pkg/util/plugin/plugin.go — maps to function/actor
  * registries; this is the function half).
  *
  * Catalyst expressions register through the session FunctionRegistry
  * (keeping codegen); scalar Scala helpers register as UDFs.
  */
object GraftFunctions {

  /** Idempotent: a name already in the session registry is left as is
    * (re-registering replaces it and logs a WARN per function, once
    * per session factory call). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def absent(name: String) = !reg.functionExists(FunctionIdentifier(name))
    def expression(name: String)(build: Seq[Expression] => Expression): Unit =
      if (absent(name)) reg.createOrReplaceTempFunction(name, build, "scala_udf")
    def udf(name: String, f: UserDefinedFunction): Unit =
      if (absent(name)) spark.udf.register(name, f)

    expression("graft_cosine")(exprs => CosineSimFloat(exprs(0), exprs(1)))
    expression("graft_dot")(exprs => DotProductFloat(exprs(0), exprs(1)))
    expression("graft_dup_ngram_ppm")(exprs => DupNgramPpm(exprs(0),
      exprs(1).eval(null).asInstanceOf[Int]))
    expression("graft_window_hashes")(exprs => WindowHashes(exprs(0),
      exprs(1).eval(null).asInstanceOf[Int], 7L))
    expression("graft_bow_score")(exprs => HashedBowScore(exprs(0), exprs(1)))

    udf("graft_jump_hash",
      functions.udf((key: Long, n: Int) => HashFunctions.jumpHash(key, n)))
    udf("graft_replica_buckets", functions.udf(
      (key: Long, n: Int, buckets: Int) => HashFunctions.replicaBuckets(key, n, buckets)))
    udf("graft_simhash", functions.udf(
      (tokens: Seq[String]) => {
        val votes = new Array[Int](64)
        tokens.foreach { t =>
          val h = HashFunctions.hashString(t, 11L)
          var b = 0
          while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
        }
        var sig = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
        sig
      }))
    udf("graft_shingle_hashes", functions.udf(
      (tokens: Seq[String], n: Int) => {
        val th = tokens.map(t => HashFunctions.hashString(t, 7L)).toArray
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        if (th.length < n) {
          var h = HashFunctions.mix64(7L + 0x5eedL)
          th.foreach(t => h = HashFunctions.mix64(h ^ t))
          out += h
        } else {
          var i = 0
          while (i + n <= th.length) {
            var h = HashFunctions.mix64(7L + 0x5eedL)
            var j = i
            while (j < i + n) { h = HashFunctions.mix64(h ^ th(j)); j += 1 }
            out += h
            i += 1
          }
        }
        out.toSeq
      }))
  }
}
