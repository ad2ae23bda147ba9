package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Base64
import org.apache.spark.sql.functions._

/** One-to-one body transforms: the Spark analogs of the reference's
  * x/encoder_base64.go, x/decoder_base64.go and x/meta_parser.go actors.
  * All pure column expressions — codegen'd, shuffle-free, partitioning-
  * preserving (safe at any scale; narrow dependencies only).
  */
object Transforms {

  /** base64-encode a column as one unwrapped line, like the reference's
    * StdEncoding (x/encoder_base64.go:58-70). Spark's `base64` function
    * follows `spark.sql.chunkBase64String.enabled` and may insert CRLF
    * every 76 characters, which a line-framed sink would split into
    * several messages, so the expression is built with chunking off. */
  def base64Encode(c: Column): Column =
    GraftBridge.column(Base64(GraftBridge.expression(c.cast("binary")), chunkBase64 = false))

  /** base64-decode; invalid input yields null, which callers route to a
    * dead-letter branch (reference rejects the message,
    * x/decoder_base64.go:58-76). */
  def base64Decode(c: Column): Column = try_to_binary(c, lit("base64"))

  /** DataFrame form over the event model: body := base64(body). */
  def encodeBase64(df: DataFrame, bodyCol: String = "body"): DataFrame =
    df.withColumn(bodyCol, base64Encode(col(bodyCol)).cast("binary"))

  /** body := unbase64(body); undecodable rows get status INVALID. */
  def decodeBase64(df: DataFrame, bodyCol: String = "body"): DataFrame = {
    val decoded = base64Decode(col(bodyCol).cast("string"))
    df.withColumn("status",
        when(decoded.isNull && col(bodyCol).isNotNull, FlowEventModel.StatusInvalid)
          .otherwise(FlowEventModel.StatusDone))
      .withColumn(bodyCol, decoded)
  }

  /** Meta-parser (x/meta_parser.go:72-88): body "k1=v1&k2=v2 <payload>" →
    * parse the URL-encoded prefix into the meta map, remainder becomes the
    * new body. Rows without a space keep their body and meta unchanged.
    */
  def parseMeta(df: DataFrame, bodyCol: String = "body", metaCol: String = "meta"): DataFrame = {
    val s = col(bodyCol).cast("string")
    val hasSplit = instr(s, " ") > 0
    val prefix = substring_index(s, " ", 1)
    val rest = s.substr(instr(s, " ") + 1, length(s))
    // split on & then =, URL-decoding each key/value independently (so
    // encoded '&'/'=' inside values survive, matching net/url.ParseQuery).
    val parsed = map_from_entries(
      transform(split(prefix, "&"),
        kv => struct(
          url_decode(substring_index(kv, "=", 1)).as("key"),
          url_decode(when(instr(kv, "=") > 0,
            kv.substr(instr(kv, "=") + 1, length(kv))).otherwise(lit("")))
            .as("value"))))
    df.withColumn(metaCol,
        when(hasSplit, map_concat(coalesce(col(metaCol), map()), parsed))
          .otherwise(col(metaCol)))
      .withColumn(bodyCol, when(hasSplit, rest.cast("binary")).otherwise(col(bodyCol)))
  }
}
