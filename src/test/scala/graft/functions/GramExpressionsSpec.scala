package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pins the codegen gram-assembly kernels row-for-row against the
  * higher-order-function formulation they replaced (the r15 LM hot
  * path): same structs, same nulls, same gram strings, on adversarial
  * token streams — CJK single-char tokens, repeats, empties, docs
  * shorter than the context order. */
class GramExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "a b a c a b"),
    (1L, "solo"),
    (2L, ""),
    (3L, "   "),
    (4L, "x x x x x x x x x x"),
    (5L, "汉字で書く mixed latin 漢"),
    (6L, "a b"),
    (7L, "tab\tand  runs of\nspace"),
    (8L, (1 to 40).map(i => s"w$i").mkString(" ")))
    .toDF("doc_id", "text")

  private def tk: Column = TextFunctions.tokens(col("text"))

  // ---- the pre-r16 HOF formulations, verbatim ------------------------

  private def hofContexts(k: Int): Column = {
    val nul = lit(null).cast("string")
    var acc: Column = transform(tk, t => struct(t.as("term")))
    for (j <- 1 until k) {
      val shifted = concat(array(Seq.fill(j)(nul): _*), tk)
      val fields = "term" +: (1 until j).map(i => s"prev$i")
      acc = zip_with(acc, shifted, (a, p) =>
        struct(fields.map(f => a.getField(f).as(f)) :+ p.as(s"prev$j"): _*))
    }
    acc
  }

  private def hofKRows(k: Int): DataFrame =
    docs.select(col("doc_id"), posexplode(hofContexts(k)).as(Seq("p0", "tp")))
      .filter(col("tp.term").isNotNull)
      .select(col("doc_id") +: col("p0") +:
        (1 until k).map(j => col(s"tp.prev$j").as(s"prev$j")) :+
        col("tp.term").as("term"): _*)

  private def newKRows(k: Int): DataFrame =
    docs.select(col("doc_id"),
      posexplode(TokenContexts(tk, k)).as(Seq("p0", "tp")))
      .select(col("doc_id") +: col("p0") +:
        (1 until k).map(j => col(s"tp.prev$j").as(s"prev$j")) :+
        col("tp.term").as("term"): _*)

  private def hofVariants(k: Int): DataFrame = {
    val rows = hofKRows(k)
    val variants = (1 to k).map { n =>
      val gram =
        if (n == 1) col("term")
        else when(col(s"prev${n - 1}").isNotNull, concat_ws(" ",
          ((n - 1) to 1 by -1).map(j => col(s"prev$j")) :+ col("term"): _*))
      struct(lit(n).as("ord"), gram.as("gram"))
    }
    rows.select(col("doc_id"), explode(array(variants: _*)).as("og"))
      .filter(col("og.gram").isNotNull)
      .select(col("doc_id"), col("og.ord").as("ord"), col("og.gram").as("gram"))
  }

  private def newVariants(k: Int): DataFrame =
    docs.select(col("doc_id"), explode(GramVariants(tk, k)).as("og"))
      .select(col("doc_id"), col("og.ord").as("ord"), col("og.gram").as("gram"))

  private def bag(df: DataFrame): Map[String, Long] =
    df.collect().map(_.mkString("|")).groupBy(identity).map {
      case (k, v) => k -> v.length.toLong
    }

  test("TokenContexts matches the zip_with fold at every order") {
    for (k <- 2 to 7)
      assert(bag(newKRows(k)) == bag(hofKRows(k)), s"k=$k")
  }

  test("GramVariants matches the exploded variant structs at every order") {
    for (k <- Seq(1, 2, 3, 5, 7))
      assert(bag(newVariants(k)) == bag(hofVariants(k)), s"k=$k")
  }

  test("null text yields no rows, like the HOF chain") {
    val nullDocs = Seq((0L, Option.empty[String]), (1L, Some("a b")))
      .toDF("doc_id", "text")
    val n = nullDocs.select(col("doc_id"),
      posexplode(TokenContexts(TextFunctions.tokens(col("text")), 2))
        .as(Seq("p0", "tp"))).count()
    assert(n == 2L) // only doc 1's two tokens
    val v = nullDocs.select(
      explode(GramVariants(TextFunctions.tokens(col("text")), 3)).as("og"))
      .count()
    assert(v == 3L) // "a", "b", "a b"
  }
}
