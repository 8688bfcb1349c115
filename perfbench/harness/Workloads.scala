package graftbench

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.sources.{DeltaInterop, IcebergInterop, TxTable}

/** Table mutations and commits, driver-bound: a slice of
  * `SparkEntry.queries` (a TxTable change feed, a stream sunk into a
  * TxTable, and one as-of read that touches no table code) over seeded
  * tables of the engine's test-data schema at sf0.01, plus a Delta and an
  * Iceberg table the benchmark owns. Both are exported from a TxTable of
  * `events` in set-up, then merged into by the same update batch on every
  * execution, which leaves the same rows, so the output stays checkable
  * while each merge still commits. The queries are checked against their
  * `SparkEntry.oracleSql`, the merges against the merged rows. */
object LakehouseWorkload extends Workload {
  val Queries = Seq("b2_tx_cdc", "g4_tx_sink", "a3_pit_join_native")
  val Sf = 0.01
  val passSeconds = 8.0
  private val Tables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def lake(ctx: Ctx, t: String) = ctx.dir.resolve("lake").resolve(t).toString
  private def updates(ctx: Ctx): DataFrame = ctx.spark.read.parquet(lake(ctx, "updates"))

  val ops: Seq[Op] = Queries.map(n => Op(n, ctx => SparkEntry.queries(n)(ctx.spark, ctx.data))) ++ Seq(
    Op("delta_merge", { ctx =>
      DeltaInterop.mergeDelta(ctx.spark, lake(ctx, "delta"), updates(ctx), Seq("event_id"))
      DeltaInterop.readDelta(ctx.spark, lake(ctx, "delta"))
    }),
    Op("iceberg_upsert", { ctx =>
      IcebergInterop.upsertIceberg(ctx.spark, lake(ctx, "iceberg"), updates(ctx), Seq("event_id"))
      IcebergInterop.readIceberg(ctx.spark, lake(ctx, "iceberg"))
    }))

  def setup(ctx: Ctx): Unit = {
    DataGen.sfTables(ctx.spark, ctx.data, Sf, ctx.seed)
    val events = ctx.spark.read.parquet(s"${ctx.data}/events.parquet")
    val t = TxTable(ctx.spark, lake(ctx, "tx"))
    t.append(events.repartition(4))
    DeltaInterop.exportDelta(t, lake(ctx, "delta"))
    IcebergInterop.exportIceberg(t, lake(ctx, "iceberg"))
    // every fifth event re-valued, plus as many new events
    val changed = events.where("event_id % 5 = 0")
    changed.selectExpr("event_id", "ts", "user_id", "event_type", "value + 1 as value", "props")
      .unionByName(changed.selectExpr("event_id + 1000000000 as event_id", "ts", "user_id",
        "event_type", "value", "props"))
      .write.parquet(lake(ctx, "updates"))
  }

  def views(ctx: Ctx): Map[String, String] =
    Tables.map(t => t -> s"${ctx.data}/$t.parquet/*.parquet").toMap +
      ("lake_updates" -> s"${lake(ctx, "updates")}/*.parquet")

  private val Merged =
    "SELECT * FROM events WHERE event_id NOT IN (SELECT event_id FROM lake_updates) " +
      "UNION ALL SELECT * FROM lake_updates"
  def oracle: Map[String, String] =
    SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) } ++
      Map("delta_merge" -> Merged, "iceberg_upsert" -> Merged)
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "lakehouse" => LakehouseWorkload
    case "scale" => ScaleWorkload
    case other => sys.error(s"unknown workload '$other'")
  }
}
