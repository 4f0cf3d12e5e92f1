package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

/** Seeded tick generator shared by `live_1k` and `replay_day`.
  *
  * Produces wire-format tick JSON in the full-mode shape the engine's
  * tick schema declares (`graft.schema.Schemas.tick`), one instrument per
  * message, so the engine only ever sees generated JSON.
  *
  *  - 50 instruments, each with a price random walk on a 0.25 grid
  *    (exact in binary, so a trade printed at the middle of the spread is
  *    an exact tie and takes the tie→buy branch of `OrderFlow.classify`);
  *    about 45% of prints hit the ask, 45% the bid and 10% the middle.
  *  - A two-level book per print; level 1 is the best quote.
  *  - Slot `j` carries event time `t0 + step * j` ms, so (instrument, ltt)
  *    is unique and candle open/close are determined (the `ltt`-only tie
  *    limit documented on `CandlePipeline` never triggers).
  *  - About 2% of ticks are delayed in arrival order by up to
  *    `delaySlots` slots: out of order, but inside the 5-minute
  *    watermark.
  *  - About 0.1% of ticks, once the first watermark is set, are stamped
  *    past the watermark (see [[Ticks.generate]] for how each is placed),
  *    so the engine must drop exactly that many. Every late tick lands in
  *    its own (window, instrument) group within its micro-batch: Spark
  *    counts dropped rows after the partial aggregate, so one group per
  *    late tick makes `numRowsDroppedByWatermark` equal the planted
  *    count.
  *
  * All arrays are indexed by arrival position (the order the ticks are
  * offered to the source).
  */
final class Ticks(val ltt: Array[Long], val inst: Array[Int],
                  val late: Array[Boolean], price: Array[Int],
                  book: Array[Int], qty: Array[Int], tbq: Array[Int],
                  tsq: Array[Int]) {
  def size: Int = ltt.length
  def lateCount: Int = late.count(identity)
  def lateLtts: Array[Long] = ltt.indices.filter(late(_)).map(ltt(_)).toArray

  /** JSON message of the tick at arrival position `i`. */
  def json(i: Int): String = {
    val p = price(i)
    val b = book(i)
    // book(i) packs: kind (0 ask, 1 bid, 2 mid), half-spread, level-2 gaps
    val kind = b & 3
    val k = ((b >> 2) & 3) + 1
    val g1 = ((b >> 4) & 3) + 1
    val g2 = ((b >> 6) & 3) + 1
    val (bid1, ask1) = kind match {
      case 0 => (p - k, p)
      case 1 => (p, p + k)
      case _ => (p - k, p + k)
    }
    Ticks.message(Ticks.instrument(inst(i)), ltt(i), p, qty(i), bid1, ask1,
                  bid1 - g1, ask1 + g2, tbq(i), tsq(i))
  }

  /** Writes arrival positions [from, until) as JSON lines. */
  def writeLines(f: File, from: Int, until: Int): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
    try {
      var i = from
      while (i < until) { w.write(json(i)); w.write('\n'); i += 1 }
    } finally w.close()
  }
}

object Ticks {
  val Instruments = 50
  /** 09:15 IST on a trading day, as epoch ms (UTC 03:45). */
  val DayStartMs: Long =
    LocalDateTime.of(2026, 1, 5, 3, 45).toEpochSecond(ZoneOffset.UTC) * 1000L
  /** The reference's trading day: 09:15–15:30 at 50 msg/s. */
  val DayTicks: Int = (6 * 3600 + 15 * 60) * 50
  val FlushInstrument = "NSE_EQ|FLUSH"
  val LateFrac = 0.001
  val DelayFrac = 0.02
  private val MinuteMs = 60000L

  def instrument(i: Int): String = f"NSE_EQ|INE$i%03dA01${(i * 37) % 1000}%03d"

  /** Price in quarter units → exact decimal text. */
  private def px(q: Int): String = {
    val frac = q & 3
    s"${q >> 2}${frac match { case 0 => ".0"; case 1 => ".25"; case 2 => ".5"; case _ => ".75" }}"
  }

  def message(instr: String, ltt: Long, p: Int, q: Int, bid1: Int, ask1: Int,
              bid2: Int, ask2: Int, tbq: Int, tsq: Int): String = {
    val sb = new java.lang.StringBuilder(640)
    sb.append("{\"type\":\"live_feed\",\"feeds\":{\"").append(instr)
      .append("\":{\"fullFeed\":{\"marketFF\":{\"ltpc\":{\"ltp\":").append(px(p))
      .append(",\"ltt\":\"").append(ltt).append("\",\"ltq\":\"").append(q)
      .append("\",\"cp\":").append(px(p - 12))
      .append("},\"marketLevel\":{\"bidAskQuote\":[{\"bidQ\":\"").append(q * 3)
      .append("\",\"bidP\":").append(px(bid1)).append(",\"askQ\":\"").append(q * 2)
      .append("\",\"askP\":").append(px(ask1)).append("},{\"bidQ\":\"").append(q * 5)
      .append("\",\"bidP\":").append(px(bid2)).append(",\"askQ\":\"").append(q * 4)
      .append("\",\"askP\":").append(px(ask2))
      .append("}]},\"optionGreeks\":{},\"marketOHLC\":{\"ohlc\":[{\"interval\":\"1d\",\"open\":")
      .append(px(p - 8)).append(",\"high\":").append(px(p + 20)).append(",\"low\":")
      .append(px(p - 20)).append(",\"close\":").append(px(p)).append(",\"vol\":\"")
      .append(tbq + tsq).append("\",\"ts\":\"").append(DayStartMs).append("\"}]},\"atp\":")
      .append(px(p - 1)).append(",\"vtt\":\"").append(tbq + tsq).append("\",\"tbq\":")
      .append(tbq).append(".0,\"tsq\":").append(tsq)
      .append(".0},\"requestMode\":\"full_d30\"}}},\"currentTs\":\"").append(ltt + 3)
      .append("\"}")
    sb.toString
  }

  /** A flush tick far past every generated window: once the watermark
    * passes it, every real window closes and append mode emits it. */
  def flush(ltt: Long): String =
    message(FlushInstrument, ltt, 400, 1, 399, 401, 398, 402, 1, 1)

  /** Generates `n` ticks.
    *
    * @param stepMs    event-time distance between consecutive slots
    * @param delaySlots out-of-order ticks arrive up to this many slots late
    * @param batch     arrival positions per micro-batch when the source
    *                  caps batches (replay), or 0 when batching is up to
    *                  the engine (live)
    * @param lateFrom  first arrival position that may carry a late tick
    * @param t0        event time of slot 0 (epoch ms)
    *
    * Late placement: Spark drops a late row in batch `b` by the
    * watermark in force at the start of batch `b - 1` (max event time of
    * the batches before `b - 1`, minus 5 minutes). With fixed batches that
    * watermark is known here, and the k-th late tick of batch `b >= 2`
    * goes k + 2 windows below it. Without fixed batches the k-th late
    * tick goes k + 8 windows below `t0`: every such watermark is above
    * that once two batches have committed, which `lateFrom` leaves time
    * for.
    */
  def generate(seed: Long, n: Int, stepMs: Int, delaySlots: Int, batch: Int,
               lateFrom: Int, t0: Long): Ticks = {
    val rnd = new SplittableRandom(seed)
    val walk = Array.fill(Instruments)(400 + rnd.nextInt(11600))
    val qbook = Array.fill(Instruments)(20000 + rnd.nextInt(40000))
    val sbook = Array.fill(Instruments)(20000 + rnd.nextInt(40000))
    val sInst = new Array[Int](n); val sPrice = new Array[Int](n)
    val sBook = new Array[Int](n); val sQty = new Array[Int](n)
    val sTbq = new Array[Int](n); val sTsq = new Array[Int](n)
    val sLate = new Array[Boolean](n)
    val keys = new Array[Long](n)
    var j = 0
    while (j < n) {
      val in = rnd.nextInt(Instruments)
      walk(in) = math.max(40, walk(in) + rnd.nextInt(3) - 1)
      qbook(in) = math.max(100, qbook(in) + rnd.nextInt(201) - 100)
      sbook(in) = math.max(100, sbook(in) + rnd.nextInt(201) - 100)
      val r = rnd.nextDouble()
      val kind = if (r < 0.45) 0 else if (r < 0.9) 1 else 2
      sInst(j) = in; sPrice(j) = walk(in)
      sBook(j) = kind | (rnd.nextInt(2) << 2) | (rnd.nextInt(3) << 4) | (rnd.nextInt(3) << 6)
      sQty(j) = 1 + rnd.nextInt(500)
      sTbq(j) = qbook(in); sTsq(j) = sbook(in)
      sLate(j) = j >= lateFrom && rnd.nextDouble() < LateFrac
      val delayed = !sLate(j) && rnd.nextDouble() < DelayFrac
      val key = if (delayed) 2L * (j + 1 + rnd.nextInt(delaySlots)) + 1 else 2L * j
      keys(j) = (key << 21) | j
      j += 1
    }
    java.util.Arrays.sort(keys)
    val ltt = new Array[Long](n); val inst = new Array[Int](n)
    val late = new Array[Boolean](n); val price = new Array[Int](n)
    val book = new Array[Int](n); val qty = new Array[Int](n)
    val tbq = new Array[Int](n); val tsq = new Array[Int](n)
    var maxBefore = Long.MinValue // max event time of batches before b - 1
    var maxPrev = Long.MinValue   // max event time of batch b - 1
    var maxHere = Long.MinValue
    var lateInBatch = 0
    var i = 0
    while (i < n) {
      val s = (keys(i) & ((1L << 21) - 1)).toInt
      if (batch > 0 && i % batch == 0) {
        if (maxPrev != Long.MinValue) maxBefore = math.max(maxBefore, maxPrev)
        maxPrev = maxHere; maxHere = Long.MinValue; lateInBatch = 0
      }
      inst(i) = sInst(s); price(i) = sPrice(s); book(i) = sBook(s)
      qty(i) = sQty(s); tbq(i) = sTbq(s); tsq(i) = sTsq(s)
      // off-grid millisecond inside the window: never equals a slot time
      val off = stepMs * rnd.nextInt((MinuteMs / stepMs).toInt - 1) + stepMs / 2 + 1
      if (sLate(s) && batch > 0 && maxBefore != Long.MinValue) {
        val wm = maxBefore - 5 * MinuteMs
        ltt(i) = (Math.floorDiv(wm, MinuteMs) - 2 - lateInBatch) * MinuteMs + off
        late(i) = true; lateInBatch += 1
      } else if (sLate(s) && batch == 0) {
        ltt(i) = (Math.floorDiv(t0, MinuteMs) - 8 - lateInBatch) * MinuteMs + off
        late(i) = true; lateInBatch += 1
      } else {
        ltt(i) = t0 + stepMs.toLong * s
        maxHere = math.max(maxHere, ltt(i))
      }
      i += 1
    }
    new Ticks(ltt, inst, late, price, book, qty, tbq, tsq)
  }
}
