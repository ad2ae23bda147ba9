package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{HashFunctions, TextFunctions}

/** Streaming MinHash/LSH near-duplicate detection — the streaming
  * rendering of [[graft.llm.Dedup.minhashLshPairs]], for ingest-time
  * dedup where each arriving document must be checked against everything
  * already admitted without re-scanning the corpus.
  *
  * Dataflow: per document, one narrow pass computes the k-minhash
  * signature and its LSH band keys; the stream is then keyed BY BAND KEY
  * (`flatMapGroupsWithState`), so state is an inverted index shard: band
  * key -> the (doc_id, signature) list of prior docs that hashed into
  * that bucket. A new doc is compared (estimated jaccard = fraction of
  * agreeing signature positions) only against its own buckets' occupants
  * — the same candidate-pruning as batch LSH, incrementally.
  *
  * Emits one row per detected (earlier_id, later_id) candidate pair with
  * est_jaccard >= threshold. A pair found in several buckets is emitted
  * once per bucket within a batch group but deduplicated downstream by
  * the caller (`.dropDuplicates("id_a","id_b")` on the output); the
  * operator itself stays append-only so it composes with any sink mode.
  *
  * Scale: state is sharded by band key — uniformly-distributed 64-bit
  * hashes, so no key skew — and each bucket holds only near-colliding
  * docs (expected O(corpus/2^bits) plus true near-dups). Per-key state is
  * bounded with `maxBucket` (oldest-first eviction) so one pathological
  * bucket (e.g. the empty-document signature) cannot grow unboundedly;
  * with ProcessingTimeTimeout idle buckets age out entirely.
  */
object StreamingNearDup {

  case class BandHit(bandKey: Long, docId: Long, sig: Array[Long])
  case class Pair(id_a: Long, id_b: Long, est_jaccard: Double)

  /** docs: streaming Dataset with (idCol: long, textCol: string). */
  def pairs(docs: DataFrame, textCol: String, idCol: String,
            shingleN: Int = 3, threshold: Double = 0.5,
            numBands: Int = 16, rowsPerBand: Int = 4,
            maxBucket: Int = 1024,
            timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())
      : Dataset[Pair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val k = numBands * rowsPerBand
    val banded = docs
      .select(col(idCol).cast("long").as("docId"),
        HashFunctions.minhashSigLongs(k)(
          HashFunctions.shingleHashes(shingleN)(
            TextFunctions.tokens(col(textCol)))).as("sig"))
      .select(col("docId"),
        col("sig"),
        explode(HashFunctions.bandKeys(numBands, rowsPerBand)(col("sig"))).as("bandKey"))
      .as[BandHit]

    implicit val stateEnc = Encoders.kryo[List[(Long, Array[Long])]]
    banded.groupByKey(_.bandKey)
      .flatMapGroupsWithState(OutputMode.Append(), timeout) {
        (_: Long, it: Iterator[BandHit], state: GroupState[List[(Long, Array[Long])]]) =>
          var bucket = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[Pair]
          // deterministic within-batch order: docs compare only against
          // strictly-earlier ids, matching the batch id_a < id_b contract
          it.toSeq.sortBy(_.docId).foreach { hit =>
            bucket.foreach { case (prevId, prevSig) =>
              if (prevId != hit.docId) {
                var agree = 0; var i = 0
                while (i < k) { if (prevSig(i) == hit.sig(i)) agree += 1; i += 1 }
                val est = agree.toDouble / k
                if (est >= threshold) {
                  val (a, b) = if (prevId < hit.docId) (prevId, hit.docId)
                               else (hit.docId, prevId)
                  out += Pair(a, b, math.rint(est * 1e6) / 1e6)
                }
              }
            }
            bucket = (hit.docId, hit.sig) :: bucket
          }
          // bound the bucket: keep the newest maxBucket entries
          state.update(bucket.take(maxBucket))
          out.iterator
      }
  }
}
