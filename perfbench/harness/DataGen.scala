package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded synthetic inputs, generated with `spark.range` and `xxhash64`.
  *
  * `sfTables` writes the ten tables `SparkEntry.queries` read, with the same
  * names, column names and physical types as the engine's test data
  * (TPC-H-like star schema plus `events`, `documents` and `embeddings`).
  * Every value is a hash of (row id, column salt, seed), so one seed always
  * gives the same tables.
  */
object DataGen {

  /** Rows per table at scale factor `sf` (1.0 = TPC-H SF1 proportions). */
  final case class SfSizes(sf: Double) {
    private def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val customer = n(150000); val supplier = n(10000); val part = n(200000)
    val orders = n(1500000); val lineitem = n(6000000); val events = n(1000000)
    val users = n(15000); val documents = n(50000); val embeddings = n(50000)
  }

  private val Vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "order", "data", "column", "join", "small", "big", "customer",
    "query", "stream", "group", "filter", "index", "vector", "shard", "cache",
    "plan", "file", "commit", "log", "time", "feature", "label")

  private def arr(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("array(", ",", ")")

  /** uniform integer in [0, m) from (id, salt, seed) */
  private def u(m: Long, salt: Int, seed: Long, id: String = "id"): String =
    s"pmod(xxhash64($id, $salt, ${seed}L), $m)"

  private def pick(xs: Seq[String], salt: Int, seed: Long): String =
    s"element_at(${arr(xs)}, cast(${u(xs.size, salt, seed)} as int) + 1)"

  /** Collects table writes and runs them side by side: each is a small
    * job, so overlapping them keeps set-up short. */
  final class Writes {
    private val pending = ArrayBuffer.empty[Future[Unit]]
    def apply(df: DataFrame, path: String): Unit =
      pending += Future(df.coalesce(1).write.mode("overwrite").parquet(path))
    def await(): Unit = Await.result(Future.sequence(pending.toSeq), Duration.Inf)
  }

  def sfTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val z = SfSizes(sf)
    val write = new Writes
    def r(n: Long) = spark.range(n)
    val day = 86400L * 1000000L
    val d1995 = "unix_micros(timestamp'1995-01-01 00:00:00')"
    write(spark.sql(
      "select * from values (0,'AFRICA'),(1,'AMERICA'),(2,'ASIA'),(3,'EUROPE'),(4,'MIDDLE EAST')" +
        " as t(r_regionkey, r_name)"), s"$dir/region.parquet")
    write(r(25).selectExpr("cast(id as int) as n_nationkey", "concat('NATION_', id) as n_name",
      "cast(id % 5 as int) as n_regionkey"), s"$dir/nation.parquet")
    write(r(z.customer).selectExpr("id as c_custkey", "format_string('Customer#%09d', id) as c_name",
      s"cast(${u(25, 1, seed)} as int) as c_nationkey",
      s"round((${u(1099999, 2, seed)} - 99999) / 100d, 2) as c_acctbal",
      s"${pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3, seed)} as c_mktsegment"),
      s"$dir/customer.parquet")
    write(r(z.supplier).selectExpr("id as s_suppkey", "format_string('Supplier#%09d', id) as s_name",
      s"cast(${u(25, 4, seed)} as int) as s_nationkey",
      s"round((${u(1099999, 5, seed)} - 99999) / 100d, 2) as s_acctbal"), s"$dir/supplier.parquet")
    write(r(z.part).selectExpr("id as p_partkey",
      s"concat(${pick(Seq("small", "red", "blue", "green", "large", "black"), 6, seed)}, ' ', " +
        s"${pick(Seq("ring", "widget", "bolt", "gear", "valve", "spring"), 7, seed)}) as p_name",
      s"concat('Brand#', ${u(25, 8, seed)} + 1) as p_brand",
      s"${pick(Seq("ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"), 9, seed)} as p_type",
      s"cast(${u(50, 10, seed)} + 1 as int) as p_size",
      "round(900 + (id % 1000) / 10d, 2) as p_retailprice"), s"$dir/part.parquet")
    write(r(z.orders).selectExpr("id as o_orderkey", s"${u(z.customer, 11, seed)} as o_custkey",
      s"${pick(Seq("F", "O", "P"), 12, seed)} as o_orderstatus",
      s"round(${u(50000000, 13, seed)} / 100d + 900, 2) as o_totalprice",
      s"timestamp_micros($d1995 + ${u(2404, 14, seed)} * ${day}L) as o_orderdate",
      s"${pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15, seed)} as o_orderpriority"),
      s"$dir/orders.parquet")
    write(r(z.lineitem).selectExpr(s"${u(z.orders, 16, seed)} as l_orderkey",
      s"${u(z.part, 17, seed)} as l_partkey", s"${u(z.supplier, 18, seed)} as l_suppkey",
      s"cast(${u(7, 19, seed)} + 1 as int) as l_linenumber",
      s"cast(${u(50, 20, seed)} + 1 as double) as l_quantity",
      s"round(${u(10000000, 21, seed)} / 100d + 900, 2) as l_extendedprice",
      s"${u(11, 22, seed)} / 100d as l_discount", s"${u(9, 23, seed)} / 100d as l_tax",
      s"${pick(Seq("A", "N", "R"), 24, seed)} as l_returnflag",
      s"${pick(Seq("F", "O"), 25, seed)} as l_linestatus",
      s"timestamp_micros($d1995 + (${u(2499, 26, seed)} + 1) * ${day}L) as l_shipdate"),
      s"$dir/lineitem.parquet")
    // strictly increasing, unique event times over January 2024
    val slot = 30L * day / z.events
    write(r(z.events).selectExpr("id as event_id",
      s"timestamp_micros(unix_micros(timestamp'2024-01-01 00:00:00') + id * ${slot}L + ${u(slot, 27, seed)}) as ts",
      s"${u(z.users, 28, seed)} as user_id",
      s"${pick(Seq("click", "view", "purchase", "signup", "error"), 29, seed)} as event_type",
      s"round((${u(49001, 30, seed)} + 1) / 100d, 2) as value",
      s"concat('{\"k\": ', ${u(100, 31, seed)}, '}') as props"), s"$dir/events.parquet")
    // every 10th document is a one-word edit of its predecessor, so the
    // dedup operators have true near-duplicates to find
    val word = (id: String, salt: Int) =>
      s"element_at(${arr(Vocab)}, cast(pmod(xxhash64($id, j, $salt, ${seed}L), ${Vocab.size}) as int) + 1)"
    val nWords = s"cast(pmod(xxhash64(base, 40, ${seed}L), 100) + 8 as int)"
    write(r(z.documents)
      .selectExpr("id", "if(id % 10 = 9, id - 1, id) as base")
      .selectExpr("id as doc_id",
        s"concat_ws(' ', transform(sequence(1, $nWords), j -> " +
          s"if(id != base and j = 3, 'edited', ${word("base", 41)}))) as text",
        s"if(${u(10, 42, seed, "base")} < 7, 'en', ${pick(Seq("de", "fr", "es"), 43, seed)}) as lang",
        s"concat('src', ${u(20, 44, seed, "base")}) as source")
      .selectExpr("*", "cast(length(text) as bigint) as n_chars"), s"$dir/documents.parquet")
    // ten clusters: a shared centre per label plus per-vector noise
    write(r(z.embeddings).selectExpr("id as vec_id", s"cast(${u(10, 45, seed)} as int) as label")
      .selectExpr("vec_id",
        "transform(sequence(0, 63), j -> cast(" +
          s"(pmod(xxhash64(label, j, 46, ${seed}L), 2001) - 1000) / 5000d + " +
          s"(pmod(xxhash64(vec_id, j, 47, ${seed}L), 2001) - 1000) / 10000d as float)) as embedding",
        "label"), s"$dir/embeddings.parquet")
    write.await()
  }
}
