package perfbench

import scala.collection.mutable

import graft.model.BitcoinWarehouse

/** What the warehouse must hold for one table: row count, distinct
  * keys, and the sum of every row's xxhash64 over its key and value
  * columns (order-independent).
  */
final case class Expect(rows: Long, keys: Long, checksum: BigInt)

/** A payload as the Dune server would return it for one request. */
final case class Payload(lines: IndexedSeq[String])

/** What the analyst read set must return. */
final case class ReadExpect(days: Long, latestRows: Long,
    latestMaxFee: Double, topAddresses: Seq[(String, Long)])

/** `bitcoin_transactions`: a history of `perDay` rows on each day
  * before `histDays`, then one new day per round. A round's delta has
  * `delta` rows on the new day: fresh ids, `restates` existing ids
  * re-sent with a later block_time and new values, and `dups` rows
  * sent twice (identical lines, as a retrying server would).
  */
final class TxFeed(seed: Long, histDays: Int, perDay: Int, delta: Int,
    restates: Int, dups: Int) {
  val cols = new Columns(BitcoinWarehouse.transactions)
  private val draw = new Draw(seed, 1)
  private val restateDraw = new Draw(seed, 2)
  // expected state, by (day, index) of the key's first appearance
  private val hashes = mutable.ArrayBuffer.empty[Array[Long]]
  private val homeDay = mutable.ArrayBuffer.empty[Array[Int]]
  private val live = mutable.ArrayBuffer.empty[Int]
  private var total = 0L
  private var checksum = BigInt(0)
  private var latestMaxFee = 0.0

  private def keyOf(day: Int, i: Int): Long = (day.toLong << 24) | i

  /** block_time, fee, id, input_value, output_value — the declared
    * source schema's order.
    */
  private def row(idDay: Int, i: Int, onDay: Int, second: Int,
      valueKey: Long, d: Draw): Array[Any] = {
    val feeSats = d.between(valueKey, 1, 200L, 50000L)
    val inSats = d.between(valueKey, 2, 100000L, 5000000000L)
    Array[Any](Gen.time(onDay, second), feeSats / 1e8,
      draw.hex64(keyOf(idDay, i), 0), inSats / 1e8, (inSats - feeSats) / 1e8)
  }

  private def dayRows(day: Int, n: Int): Iterator[Array[Any]] =
    Iterator.range(0, n).map(i =>
      row(day, i, day, (i.toLong * 86399 / n).toInt, keyOf(day, i), draw))

  /** The seed history; starts the expected state. */
  def history(emit: String => Unit): Unit = {
    require(hashes.isEmpty, "history already served")
    (0 until histDays).foreach { d =>
      val hs = new Array[Long](perDay)
      hashes += hs
      homeDay += Array.fill(perDay)(d)
      live += perDay
      total += perDay
      dayRows(d, perDay).zipWithIndex.foreach { case (r, i) =>
        hs(i) = cols.hash(r)
        checksum += hs(i)
        emit(cols.json(r))
      }
    }
  }

  /** Round `k`'s delta (day `histDays + k`); advances the expected
    * state as the pipeline's merge must.
    */
  def round(k: Int): Payload = {
    val day = histDays + k
    require(hashes.size == day, s"round $k served out of order")
    val fresh = delta - restates
    val hs = new Array[Long](fresh)
    hashes += hs
    homeDay += Array.fill(fresh)(day)
    live += 0
    val out = mutable.ArrayBuffer.empty[String]
    var maxFee = 0.0
    def land(r: Array[Any], idDay: Int, i: Int, h: Long): Unit = {
      val old = hashes(idDay)(i)
      if (idDay == day) total += 1
      else { checksum -= old; live(homeDay(idDay)(i)) -= 1 }
      hashes(idDay)(i) = h
      homeDay(idDay)(i) = day
      live(day) += 1
      checksum += h
      maxFee = maxFee max r(1).asInstanceOf[Double]
      out += cols.json(r)
    }
    val seconds = (0 until delta).map(j => (j.toLong * 86399 / delta).toInt)
    (0 until fresh).foreach { i =>
      val r = row(day, i, day, seconds(i), keyOf(day, i), draw)
      land(r, day, i, cols.hash(r))
    }
    val picked = mutable.LinkedHashSet.empty[(Int, Int)]
    var j = 0L
    while (picked.size < restates) {
      val d = restateDraw.between(keyOf(k, 0) + j, 0, 0L, day.toLong).toInt
      val i = restateDraw.between(keyOf(k, 0) + j, 1, 0L,
        hashes(d).length.toLong).toInt
      picked += ((d, i))
      j += 1
    }
    picked.zipWithIndex.foreach { case ((d, i), n) =>
      val r = row(d, i, day, seconds(fresh + n), keyOf(day, fresh + n),
        restateDraw)
      land(r, d, i, cols.hash(r))
    }
    latestMaxFee = maxFee
    // a retrying server repeats some rows verbatim
    Payload((out ++ out.take(dups)).toIndexedSeq)
  }

  def expect: Expect = Expect(total, total, checksum)
  def days: Long = live.count(_ > 0).toLong
  def latestRows: Long = live.last.toLong
  def maxFeeOfLatestDay: Double = latestMaxFee
}

/** `prices_usd`: one USD close per day. */
final class PriceFeed(seed: Long) {
  val cols = new Columns(BitcoinWarehouse.pricesUsd)
  private val draw = new Draw(seed, 3)
  def row(day: Int): Array[Any] =
    Array[Any](Gen.date(day), draw.between(day.toLong, 0, 100000L, 10000000L) / 100.0)
  def window(from: Int, until: Int)(emit: String => Unit): Expect = {
    val rs = (from until until).map(row)
    rs.foreach(r => emit(cols.json(r)))
    Expect(rs.size.toLong, rs.size.toLong,
      rs.iterator.map(r => BigInt(cols.hash(r))).sum)
  }
}

/** `bitcoin_inputs` / `bitcoin_output`: full-refresh tables. Each
  * request returns a window of rows; addresses repeat with a skew so
  * the top-address read has a real ranking.
  */
final class InOutFeed(seed: Long, stream: Int, output: Boolean,
    addresses: Int) {
  val cols = new Columns(
    if (output) BitcoinWarehouse.outputs else BitcoinWarehouse.inputs)
  private val draw = new Draw(seed, stream)
  private val addrDraw = new Draw(seed, 4)
  private def address(a: Int): String = "bc1q" + addrDraw.hex64(a, 0).take(38)
  private def addrIndex(i: Long): Int = {
    val u = (draw(i, 1) >>> 11) / (1L << 53).toDouble
    (addresses * u * u).toInt
  }
  def row(i: Long): Array[Any] = Array[Any](address(addrIndex(i)),
    draw.hex64(i, 2), draw.between(i, 3, 546L, 2000000000L) / 1e8)
  /** Rows [from, until), their expectation, and (when `top` > 0) the
    * `top` addresses by row count, ties by address.
    */
  def window(from: Long, until: Long, top: Int)(emit: String => Unit)
      : (Expect, Seq[(String, Long)]) = {
    val counts = new Array[Long](addresses)
    var sum = BigInt(0)
    (from until until).foreach { i =>
      val r = row(i)
      counts(addrIndex(i)) += 1
      sum += cols.hash(r)
      emit(cols.json(r))
    }
    val best =
      if (top == 0) Nil
      else counts.indices.filter(counts(_) > 0)
        .map(a => (address(a), counts(a)))
        .sortBy { case (a, c) => (-c, a) }.take(top)
    val n = until - from
    (Expect(n, n, sum), best)
  }
}

/** `bitcoin_block`: a full-refresh window of consecutive heights. */
final class BlockFeed(seed: Long) {
  val cols = new Columns(BitcoinWarehouse.block)
  private val draw = new Draw(seed, 5)
  def row(i: Long): Array[Any] = {
    val fees = draw.between(i, 3, 1000000L, 50000000L)
    val mint = 312500000L
    Array[Any](draw.hex64(i, 1).take(40), draw.between(i, 2, 1L, 1L << 46) / 1e3,
      draw.hex64(i, 0), 800000L + i, mint / 1e8,
      draw.between(i, 4, 0L, 1L << 32), draw.hex64(i - 1, 0),
      draw.between(i, 5, 200000L, 2000000L), fees / 1e8, (mint + fees) / 1e8,
      draw.between(i, 6, 1L, 5000L), draw.between(i, 7, 800000L, 4000000L))
  }
  def window(from: Long, until: Long)(emit: String => Unit): Expect = {
    var sum = BigInt(0)
    (from until until).foreach { i =>
      val r = row(i)
      sum += cols.hash(r)
      emit(cols.json(r))
    }
    val n = until - from
    Expect(n, n, sum)
  }
}
