package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{BooleanType, StructType}

/** Exact GCRA ("generic cell rate algorithm") rate limiter as a Spark
  * keyed-state operator — the streaming rendering of core.throttler
  * (reference: pkg/corev1alpha1/actor/throttler.go:126-148, the
  * "theoretical arrival time" CAS loop; params at :32-38: cost =
  * 1e9/rps ns per message, burst = 1s - cost).
  *
  * State per key: the TAT (theoretical arrival time, ns). On arrival at
  * event time t: admit iff TAT - t <= burst, then TAT = max(TAT, t) + cost;
  * over-limit events are emitted with admitted=false and do NOT advance TAT
  * (the reference completes them Throttled without queueing).
  *
  * Ordering: Spark gives no within-batch order, so each micro-batch's
  * events per key are processed in (eventTimeNs, id) order — deterministic
  * given deterministic batching. Cross-batch order follows watermark
  * discipline, as in any event-time streaming operator.
  *
  * Scale: state is 8 bytes per active key, partitioned by key hash —
  * the same shuffle the downstream keyed sink needs anyway. No skew issue:
  * a hot key is a single 8-byte register updated sequentially, which is
  * semantically unavoidable for per-key rate limiting.
  */
object GcraThrottler {

  case class Event(key: String, eventTimeNs: Long, id: Long)
  case class Result(key: String, eventTimeNs: Long, id: Long, admitted: Boolean)

  /** The TAT loop shared by both entry points: one key's events in
    * (event time ns, `tie`) order, `state` carrying the TAT across
    * micro-batches; `emit` pairs each event with its event time and
    * verdict. */
  private def admit[E, R](events: Iterator[E], state: GroupState[Long],
                          rps: Double)(tsNs: E => Long, tie: E => Long)(
      emit: (E, Long, Boolean) => R): Iterator[R] = {
    val costNs = (1e9 / rps).toLong
    val burstNs = math.max(0L, 1000000000L - costNs) // throttler.go:37-38
    var tat = state.getOption.getOrElse(Long.MinValue)
    val out = events.toSeq.sortBy(e => (tsNs(e), tie(e))).map { e =>
      val t = tsNs(e)
      val admitted = tat == Long.MinValue || tat - t <= burstNs
      if (admitted) tat = math.max(tat, t) + costNs
      emit(e, t, admitted)
    }
    state.update(tat)
    out.iterator
  }

  def throttle(events: Dataset[Event], rps: Double,
               timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())
      : Dataset[Result] = {
    implicit val resEnc = Encoders.product[Result]
    implicit val keyEnc = Encoders.STRING
    implicit val longEnc = Encoders.scalaLong
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), timeout) {
        (key: String, it: Iterator[Event], state: GroupState[Long]) =>
          admit(it, state, rps)(_.eventTimeNs, _.id)(
            (e, t, admitted) => Result(key, t, e.id, admitted))
      }
  }

  /** A cell's value as a string; bytes map one-to-one onto ISO-8859-1
    * chars, so equal byte arrays give equal strings. */
  private def valueString(v: Any): String = v match {
    case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    case other => String.valueOf(other)
  }

  /** Schema-generic GCRA: same admission algorithm over arbitrary rows —
    * the pipeline-actor form, where the message must flow through with
    * ALL its columns (reference: the throttler actor passes the message
    * along, it never reshapes it). Appends a boolean `admitted` column;
    * callers filter and drop it. Works identically over batch and
    * streaming inputs (flatMapGroupsWithState runs stateless-per-group on
    * batch, keyed-state across micro-batches on streams).
    *
    * Rows group by the key column's VALUE: a binary key (`body` in
    * every bind/push receiver) groups by its bytes, not by the array's
    * identity. Within-batch order is (event time ns, hashCode of the
    * row's string form, binary columns by value) — deterministic for
    * distinct-timestamp workloads and stable under retries either way.
    */
  def throttleRows(df: DataFrame, keyCol: String, tsCol: String, rps: Double,
                   timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())
      : DataFrame = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val outSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("admitted", BooleanType, nullable = false))
    val outEnc = Encoders.row(outSchema)
    val stateEnc = Encoders.scalaLong
    def tsNs(r: Row): Long = {
      val i = r.getTimestamp(tsIdx).toInstant
      i.getEpochSecond * 1000000000L + i.getNano
    }
    df.groupByKey(r => valueString(r.get(keyIdx)))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), timeout) {
        (_: String, it: Iterator[Row], state: GroupState[Long]) =>
          admit(it, state, rps)(tsNs,
            _.toSeq.map(valueString).mkString("").hashCode.toLong)(
            (r, _, admitted) => Row.fromSeq(r.toSeq :+ admitted))
      }(stateEnc, outEnc)
  }
}
