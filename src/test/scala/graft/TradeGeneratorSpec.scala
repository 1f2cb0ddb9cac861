package graft

import graft.model.{StockTrade, TradeGenerator}

/** Distribution invariants from the reference generator
  * (`StockTradeGenerator.java:47-83`), under a fixed seed, plus the two
  * identity contracts the tr01–tr03 oracles depend on: the distributed
  * batch generator is partition-count-independent, and the scalar path
  * (`TradeGenerator.at`, used by tradeStream) is value-identical to it.
  */
class TradeGeneratorSpec extends SparkSpec {

  private val trades = new TradeGenerator(seed = 7L).take(10000)
  private val means = TradeGenerator.StockPrices.toMap

  test("tickers come from the 25-symbol dictionary (incl. dotted symbols)") {
    assert(trades.map(_.tickerSymbol).toSet.subsetOf(TradeGenerator.Symbols.toSet))
    assert(trades.exists(t => t.tickerSymbol.contains(".")))
  }

  test("price within ±20% of the ticker mean, rounded to 2 decimals") {
    trades.foreach { t =>
      val mean = means(t.tickerSymbol)
      assert(t.price >= mean * 0.8 - 0.01 && t.price <= mean * 1.2 + 0.01,
        s"price ${t.price} outside ±20% of $mean")
      assert((t.price * 100).round / 100.0 === t.price)
    }
  }

  test("quantity uniform in [1, 10000]") {
    assert(trades.forall(t => t.quantity >= 1 && t.quantity <= 10000))
    assert(trades.map(_.quantity).max > 9000 && trades.map(_.quantity).min < 1000)
  }

  test("SELL probability ≈ 0.4") {
    val sellRatio = trades.count(_.tradeType == StockTrade.SELL).toDouble / trades.size
    assert(sellRatio > 0.37 && sellRatio < 0.43, s"sell ratio $sellRatio")
  }

  test("ids strictly increasing from 1") {
    assert(trades.map(_.id) == (1L to trades.size))
  }

  test("same seed → identical sequence; different seed → different") {
    assert(new TradeGenerator(7L).take(100) == new TradeGenerator(7L).take(100))
    assert(new TradeGenerator(7L).take(100) != new TradeGenerator(8L).take(100))
  }

  test("display format matches reference toString (StockTrade.java:82-85)") {
    val t = StockTrade("AAPL", "BUY", 119.7, 42, 7)
    assert(t.display == "ID 7: BUY 42 shares of AAPL for $119.70")
  }

  test("batch generator is partition-count-independent: identical rows at 1, 7, and 32 partitions") {
    val bySplit = Seq(1, 7, 32).map { p =>
      p -> graft.sources.TradeSource.trades(spark, 10000L, partitions = p)
        .collect().sortBy(_.id).toSeq
    }
    val (_, ref) = bySplit.head
    assert(ref.size == 10000)
    bySplit.tail.foreach { case (p, rows) =>
      assert(rows == ref, s"partitions=$p diverged from partitions=1")
    }
  }

  test("scalar path (TradeGenerator.at) is value-identical to the batch generator at equal ids") {
    val batch = graft.sources.TradeSource.trades(spark, 10000L)
      .collect().sortBy(_.id).toSeq
    val scalar = new TradeGenerator(seed = 42L).take(10000)
    assert(batch == scalar)
  }
}
