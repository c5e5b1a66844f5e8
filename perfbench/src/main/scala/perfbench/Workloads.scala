package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.model.{BitcoinWarehouse, TableSpec}
import graft.runner.RunOptions
import graft.sources.{DuneRestClient, DuneRestConfig, DuneV2Source, RestDuneSource, Source}

/** Rows and bytes of one served round. */
final case class Served(tag: String, rows: Long, bytes: Long)

/** How payloads reach the program under test. */
trait Delivery {
  def source: Source
  /** Serves each table's rows, written by its generator, as round `tag`. */
  def serve(tag: String,
      tables: Seq[(TableSpec, (String => Unit) => Unit)]): Served
  def close(): Unit = ()
}

/** `DuneV2Source` over `<dir>/<tag>/<queryId>.json` files, each holding
  * exactly what the server returns for that round.
  */
final class FileDelivery(dir: Path) extends Delivery {
  private var current: Source = new DuneV2Source(dir.toString)
  def source: Source = current
  def serve(tag: String,
      tables: Seq[(TableSpec, (String => Unit) => Unit)]): Served = {
    val d = dir.resolve(tag)
    Files.createDirectories(d)
    var rows, bytes = 0L
    tables.foreach { case (spec, gen) =>
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        Files.newOutputStream(d.resolve(s"${spec.queryId}.json")), UTF_8),
        1 << 16)
      try gen { line =>
        out.write(line); out.write('\n')
        rows += 1; bytes += line.length + 1
      } finally out.close()
    }
    current = new DuneV2Source(d.toString)
    Served(tag, rows, bytes)
  }
}

/** `RestDuneSource` + `DuneRestClient` against the loopback [[DuneStub]]. */
final class StubDelivery extends Delivery {
  val stub = new DuneStub
  val source: Source = new RestDuneSource(new DuneRestClient(
    DuneRestConfig(stub.baseUrl, DuneStub.Key)))
  def serve(tag: String,
      tables: Seq[(TableSpec, (String => Unit) => Unit)]): Served = {
    var rows, bytes = 0L
    tables.foreach { case (spec, gen) =>
      val buf = mutable.ArrayBuffer.empty[String]
      gen { line => buf += line; rows += 1; bytes += line.length + 1 }
      val filterCol = spec.watermarkCol.map(t =>
        spec.renames.collectFirst { case (s, `t`) => s }.getOrElse(t))
      stub.install(spec.queryId, filterCol, buf.toIndexedSeq)
    }
    Served(tag, rows, bytes)
  }
  override def close(): Unit = stub.stop()
}

/** One benchmark workload: a seed payload and a payload per round,
  * plus what the warehouse must hold after each.
  */
abstract class Workload(val name: String) {
  /** How this workload's payloads reach the program. */
  def delivery(work: Path): Delivery
  def roundOpts: RunOptions
  /** The warm round's options and payload: by default a round of the
    * timed kind.
    */
  def warmOpts: RunOptions = roundOpts
  def warm(d: Delivery, k: Int): Served = round(d, k)
  /** Serves the seed (initial full sync) payload. */
  def seed(d: Delivery): Served
  /** Serves round `k` (warm rounds first, then timed ones). */
  def round(d: Delivery, k: Int): Served
  /** Tables written by the latest round, with their expected content. */
  def expects: Seq[(Columns, Expect)]
  def reads: ReadExpect
  protected def feed(spec: TableSpec)(gen: (String => Unit) => Unit) =
    spec -> gen
}

object Workload {
  val Names: Seq[String] = Seq("incr_merge", "small_sync")

  def apply(name: String, seed: Long): Workload = name match {
    case "incr_merge" => new IncrMerge(seed)
    case "small_sync" => new SmallSync(seed)
    case other => sys.error(s"unknown workload $other (${Names.mkString(", ")})")
  }
}

/** Five tables seeded together; rounds then append one day of
  * transactions and one price per round.
  */
private abstract class DailyDelta(name: String, seed: Long, histDays: Int,
    perDay: Int, delta: Int, restates: Int, dups: Int, ioRows: Int,
    blockRows: Int) extends Workload(name) {
  protected val tx = new TxFeed(seed, histDays, perDay, delta, restates, dups)
  protected val prices = new PriceFeed(seed)
  protected val inputs = new InOutFeed(seed, 6, output = false, 2000)
  protected val outputs = new InOutFeed(seed, 7, output = true, 2000)
  protected val blocks = new BlockFeed(seed)
  private var priceSum = BigInt(0)
  protected var latest = Seq.empty[(Columns, Expect)]
  protected var top = Seq.empty[(String, Long)]

  /** Serves prices for days [from, until) on top of those served before. */
  private def morePrices(from: Int, until: Int)(emit: String => Unit): Expect = {
    priceSum += prices.window(from, until)(emit).checksum
    Expect(until.toLong, until.toLong, priceSum)
  }

  /** The two incremental jobs. */
  protected val incremental = RunOptions(select = Some(Set(
    BitcoinWarehouse.transactions.jobName, BitcoinWarehouse.pricesUsd.jobName)))

  /** Serves one round's tables; their expectations replace the last. */
  protected def serve(d: Delivery, tag: String,
      tables: Seq[(TableSpec, (String => Unit) => Unit)]): Served = {
    latest = Nil
    d.serve(tag, tables)
  }

  /** The full-refresh tables at window offset `off`. */
  protected def snapshots(off: Long): Seq[(TableSpec, (String => Unit) => Unit)] =
    Seq(
      feed(BitcoinWarehouse.inputs) { emit =>
        latest :+= inputs.cols -> inputs.window(off, off + ioRows, 0)(emit)._1 },
      feed(BitcoinWarehouse.outputs) { emit =>
        val (e, t) = outputs.window(off, off + ioRows, 10)(emit)
        top = t
        latest :+= outputs.cols -> e },
      feed(BitcoinWarehouse.block) { emit =>
        latest :+= blocks.cols -> blocks.window(off, off + blockRows)(emit) })

  def seed(d: Delivery): Served =
    serve(d, "seed", Seq(
      feed(BitcoinWarehouse.transactions) { emit =>
        tx.history(emit); latest :+= tx.cols -> tx.expect },
      feed(BitcoinWarehouse.pricesUsd) { emit =>
        latest :+= prices.cols -> morePrices(0, histDays)(emit) }) ++
      snapshots(0))

  protected def dailyTables(k: Int): Seq[(TableSpec, (String => Unit) => Unit)] =
    Seq(
      feed(BitcoinWarehouse.transactions) { emit =>
        tx.round(k).lines.foreach(emit); latest :+= tx.cols -> tx.expect },
      feed(BitcoinWarehouse.pricesUsd) { emit =>
        latest :+= prices.cols -> morePrices(histDays + k, histDays + k + 1)(emit) })

  def expects: Seq[(Columns, Expect)] = latest
  def reads: ReadExpect =
    ReadExpect(tx.days, tx.latestRows, tx.maxFeeOfLatestDay, top)
}

/** The paper's daily delta against a long history: watermark probe,
  * keyed upsert of one new day (10% restated ids, a few duplicate
  * lines) and the whole-table rewrite, through `DuneV2Source`.
  */
private final class IncrMerge(seed: Long) extends DailyDelta("incr_merge",
    seed, histDays = 1000, perDay = 150, delta = 1500, restates = 150,
    dups = 10, ioRows = 2000, blockRows = 1000) {
  def delivery(work: Path) = new FileDelivery(work.resolve("payload"))
  val roundOpts = incremental
  def round(d: Delivery, k: Int): Served = serve(d, s"r$k", dailyTables(k))
}

/** The reference's own scale and protocol: all five jobs with their
  * declared strategies, a few hundred rows each, over REST.
  */
private final class SmallSync(seed: Long) extends DailyDelta("small_sync",
    seed, histDays = 3, perDay = 100, delta = 200, restates = 20, dups = 2,
    ioRows = 300, blockRows = 200) {
  def delivery(work: Path) = new StubDelivery
  val roundOpts = RunOptions()
  // the seed syncs already ran the three full-refresh jobs twice, so
  // the warm round runs only the incremental ones
  override def warmOpts = incremental
  override def warm(d: Delivery, k: Int): Served =
    serve(d, s"w$k", dailyTables(k))
  /** Each round the full-refresh windows slide by this many rows. */
  private val shift = 25L
  def round(d: Delivery, k: Int): Served =
    serve(d, s"r$k", dailyTables(k) ++ snapshots(shift * (k + 1)))
}
