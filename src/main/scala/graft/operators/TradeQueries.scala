package graft.operators

import graft.GraftQuery
import graft.GraftQuery.{rowsOnly, sql}
import graft.model.{StockTrade, TradeGenerator}
import graft.sources.TradeSource
import graft.operators.Det._
import org.apache.spark.sql.functions._

/** Batch queries over the reproduced StockTrade stream (reference data
  * model, SURVEY.md §1).
  *
  * r9: the generator's draws became hash-indexed pure functions of
  * (id, seed) ([[graft.model.TradeGenerator.at]]), so the "generated
  * in-engine" input is no longer un-replayable — [[tradesSql]] rebuilds the
  * full trade set in DuckDB (four splitmix HUGEINT hash streams per id, the
  * same fixed IEEE double sequence for price) and tr01-tr03 moved behind
  * the hash-exact oracle gate. tr00 stays rows-only: it is the throughput
  * headline over 1M trades whose stages are each oracle- or spec-gated
  * elsewhere (tr01 generation, tr02 codec, StreamingSpec pipeline).
  */
object TradeQueries {

  private val N = 100000L

  /** DuckDB replay of [[graft.sources.TradeSource.trades]]: regenerates
    * every record for ids 1..n from the four priority-hash streams
    * (`id*4 + stream`, shared seed), the 25-ticker dictionary, and the
    * reference's price/type/quantity formulas. Ends with a
    * `trades(id, tickerSymbol, tradeType, price, quantity)` CTE; callers
    * append their own SELECT after a newline. Uniform doubles are
    * `(pri % 2^53) / 2^53` — a single exact-modulus + correctly-rounded
    * division, bit-identical to the JVM's; the price rounding is the Det
    * `floor(x*100 + 0.5)/100` contract.
    */
  private def tradesSql(n: Long, seed: Long = 42L): String = {
    val dict = TradeGenerator.StockPrices.zipWithIndex
      .map { case ((sym, mean), i) => s"($i, '$sym', CAST($mean AS DOUBLE))" }
      .mkString(", ")
    s"""WITH ids AS (SELECT g.i AS id, s.s AS stream, CAST(g.i * 4 + s.s AS HUGEINT) AS k
      |             FROM generate_series(1, $n) g(i), generate_series(0, 3) s(s)),
      |${graft.functions.HashFunctions.priorityHashCtes("ids", "k", seed, "id, stream")},
      |draws AS (SELECT id,
      |                 max(CASE WHEN stream = 0 THEN pri END) AS p0,
      |                 max(CASE WHEN stream = 1 THEN pri END) AS p1,
      |                 max(CASE WHEN stream = 2 THEN pri END) AS p2,
      |                 max(CASE WHEN stream = 3 THEN pri END) AS p3
      |          FROM ph4 GROUP BY id),
      |dict AS (SELECT * FROM (VALUES $dict) d(idx, sym, mean)),
      |trades AS (
      |  SELECT dr.id, di.sym AS tickerSymbol,
      |         CASE WHEN CAST(dr.p2 % ${TradeGenerator.Pow53} AS DOUBLE) / ${TradeGenerator.Pow53}.0 < ${TradeGenerator.ProbabilitySell}
      |              THEN '${StockTrade.SELL}' ELSE '${StockTrade.BUY}' END AS tradeType,
      |         floor(di.mean * (1.0 + (CAST(dr.p1 % ${TradeGenerator.Pow53} AS DOUBLE) / ${TradeGenerator.Pow53}.0 - 0.5) * 2.0 * ${TradeGenerator.MaxDeviation}) * 100.0 + 0.5) / 100.0 AS price,
      |         CAST(dr.p3 % ${TradeGenerator.MaxQuantity} + 1 AS BIGINT) AS quantity
      |  FROM draws dr JOIN dict di ON di.idx = CAST(dr.p0 % ${TradeGenerator.StockPrices.length} AS BIGINT))""".stripMargin
  }

  val all: Seq[GraftQuery] = Seq(
    rowsOnly(
      "tr00_pipeline_throughput",
      "full reference pipeline (generate → envelope encode → template decode → per-ticker windowed stats) over 1M trades — the throughput headline vs the reference's ~12 rec/s envelope (BASELINE.md); no oracle: the throughput run is the point, and each stage is gated elsewhere (tr01 oracle-replays the generation, tr02 the codec counts — on the REAL interpreted from_json consumer, oracle-backed — StreamingSpec the pipeline). r10 arbitration of r9's apparent 3.3× in-bench regression (0.73→2.40 s, same round the generator went hash-indexed): fresh-JVM QueryTime warm takes read 0.92–1.17 s wall / 14–24 s cpu, and phase attribution put generation at only ~0.6 s cpu of it — the double Jackson pass dominated (to_json ~13 s cpu interpreted CodegenFallback, from_json ~+3 s; the hash-indexed generator was NOT the regression). r10 removed the producer term: Envelope.encodeFast, a concat-of-casts template that CodecSpec proves BYTE-IDENTICAL to to_json over the full generated domain (Spark's number casts share Jackson's toString rendering; tickers/types are escape-free) while staying inside whole-stage codegen. r19 removed the consumer term the same way: Envelope.decodeFast slices the template back out with locate/substr expressions CodecSpec proves ROW-IDENTICAL to the PERMISSIVE from_json over the same domain (casts share Jackson's correctly-rounded number parse), guarded by a loud raise_error on any non-template payload; wire bytes are unchanged and tr02 keeps the real Jackson consumer as the oracle-backed codec-contract entry")(
      (s, dir) => {
        // 1M trades for the sf0.1 bench; a lighter volume for the
        // correctness pass (its output is scale-independent: 25 tickers)
        val n = if (dir.endsWith("0.1")) 1000000L else 100000L
        val trades = TradeSource.trades(s, n).toDF()
        val decoded = graft.streaming.Envelope.decodeFast(graft.streaming.Envelope.encodeFast(trades))
        graft.streaming.TradePipeline.tickerStats(decoded, window_ = "10 seconds")
          .select(col("tickerSymbol"), col("n_trades"), col("sum_qty"),
            r2(col("vwap")).as("vwap"))
      }),

    sql(
      "tr01_trade_stats",
      "per-ticker stats over the distributed hash-indexed generator (S1 reproduction) — count, 2dp min/max price, quantity mass, SELL share. Oracle-replayed END-TO-END since r9: the input itself is regenerated in DuckDB from the (id, seed) hash draws, so this entry proves the generator contract (dictionary, ±20% price envelope, 0.4 SELL rate, [1,10000] quantity) record-for-record, not just in distribution. Scale posture: generation is pure codegen'd Column arithmetic over spark.range — embarrassingly parallel, no PRNG state, partition-count-independent",
      s"""${tradesSql(N)}
        |SELECT tickerSymbol, CAST(count(*) AS BIGINT) AS n_trades,
        |       floor(min(price) * 100 + 0.5) / 100 AS min_price,
        |       floor(max(price) * 100 + 0.5) / 100 AS max_price,
        |       CAST(sum(quantity) AS BIGINT) AS sum_qty,
        |       floor((sum(CASE WHEN tradeType = 'SELL' THEN 1 ELSE 0 END) * 1.0 / count(*)) * 10000 + 0.5) / 10000 AS sell_share
        |FROM trades GROUP BY tickerSymbol ORDER BY tickerSymbol""") { (s, _) =>
      TradeSource.trades(s, N).toDF()
        .groupBy("tickerSymbol")
        .agg(count(lit(1)).as("n_trades"),
          r2(min("price")).as("min_price"),
          r2(max("price")).as("max_price"),
          sum("quantity").as("sum_qty"),
          r4(sum(when(col("tradeType") === StockTrade.SELL, 1).otherwise(0)) * lit(1.0) / count(lit(1)))
            .as("sell_share"))
        .orderBy("tickerSymbol")
    },

    sql(
      "tr02_trade_roundtrip",
      "JSON wire round-trip (C1+C2): to_json → from_json loses nothing. Oracle since r9: the expected output is the regenerated trade set's per-type counts with a zero null column — any row the PERMISSIVE decode dropped, duplicated, or nulled would break the compare, so the identity claim is oracle-checked rather than spec-only. Perf note (r04 4.7s-both-takes investigated): warm intrinsic cost is 0.44s wall / 1.7s executor / 1.1s CPU over 4 stages (QueryTime stage attribution) — ~11µs/row through the double Jackson pass; to_json/from_json are CodegenFallback so the kernel is interpreted, and under shared-host CPU steal a 32-way interpreted stage serializes, which is what r04's bench window hit (a later window showed the inverse: tr00 9.6s while tr02 1.7s). Not a plan defect",
      s"""${tradesSql(N)}
        |SELECT tradeType, CAST(count(*) AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_nulls
        |FROM trades GROUP BY tradeType ORDER BY tradeType""") { (s, _) =>
      val trades = TradeSource.trades(s, N).toDF()
      // Producer leg rides the codegen'd encodeFast template (CodecSpec
      // proves it byte-identical to to_json over the full generated
      // domain, so the wire under test is unchanged); the consumer leg
      // stays the REAL interpreted PERMISSIVE from_json — that is the
      // wire-fidelity claim this entry exists to prove. Before the swap
      // the double interpreted Jackson pass was the bench's largest CPU
      // line (~52-60 s at sf0.1, ~11 µs/row); encodeFast halves it
      // without weakening the contract.
      val wire = graft.streaming.Envelope.encodeFast(trades)
        .select(col("data").cast("string").as("json"))
      val back = wire.select(from_json(col("json"), StockTrade.schema).as("t")).select("t.*")
      back.groupBy("tradeType")
        .agg(count(lit(1)).as("n"),
          count(when(col("tickerSymbol").isNull || col("price").isNull ||
            col("quantity").isNull || col("id").isNull, 1)).as("n_nulls"))
        .orderBy("tradeType")
    },

    sql(
      "tr03_trade_display",
      "display projection (C3): reference toString format as a column, format-exact ('$%.02f', StockTrade.java:82-85). Oracle since r9: DuckDB regenerates the 20 trades and formats them with the same printf spec — both engines format a 2-decimal price value, so no decimal-tie divergence exists",
      s"""${tradesSql(1000L)}
        |-- DuckDB's fmt-based printf rejects the zero-padded '%.02f' spec the
        |-- reference (and the Spark side, format-exact) uses; '%.2f' is the
        |-- same 2-decimal rendering
        |SELECT id, printf('ID %d: %s %d shares of %s for $$%.2f',
        |                  id, tradeType, quantity, tickerSymbol, price) AS display
        |FROM trades ORDER BY id LIMIT 20""") { (s, _) =>
      TradeSource.trades(s, 1000).toDF()
        .select(col("id"),
          format_string("ID %d: %s %d shares of %s for $%.02f",
            col("id"), col("tradeType"), col("quantity"), col("tickerSymbol"), col("price"))
            .as("display"))
        .orderBy("id")
        .limit(20)
    }
  )
}
