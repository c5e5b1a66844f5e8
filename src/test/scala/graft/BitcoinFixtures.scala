package graft

import java.nio.file.{Files, Paths}

/** One JSON row per Dune query of the five Bitcoin jobs — the smallest
  * fixture set that lands every `BitcoinWarehouse.all` table through a
  * `FixtureSource`.
  */
object BitcoinFixtures {
  val oneRowEach: Map[Long, String] = Map(
    2177353L -> """{"address":"bc1qa", "tx_id":"t1", "value":0.5}""",
    2177447L -> """{"address":"bc1qc", "tx_id":"t1", "value":0.49}""",
    5816212L -> """{"date":"2025-01-01", "price":95000.0}""",
    2177280L -> ("""{"block_time":"2025-01-01T00:01:00", "fee":0.01, """ +
      """"id":"t1", "input_value":0.5, "output_value":0.49}"""),
    2177266L -> ("""{"coinbase":"cb", "difficulty":1.0, "hash":"h1", """ +
      """"height":1, "mint_reward":3.125, "nonce":42, """ +
      """"previous_block_hash":"h0", "size":100, "total_fees":0.01, """ +
      """"total_reward":3.135, "transaction_count":1, "weight":400}"""))

  /** Writes every row of [[oneRowEach]] as `<dir>/<queryId>.json`. */
  def write(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    oneRowEach.foreach { case (id, line) =>
      Files.write(Paths.get(s"$dir/$id.json"), line.getBytes("UTF-8"))
    }
  }
}
