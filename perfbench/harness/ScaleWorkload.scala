package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{AsOfJoin, Dedup, Latest, Similarity}
import graft.sources.TxTable

/** Public operators over seeded synthetic data sized so that executor
  * tasks, not the driver, take most of each op's time. Generated the way
  * the engine's `*ScaleProbe` mains generate theirs: `spark.range` plus
  * `xxhash64` of (row, salt, seed).
  *
  * Each op's check is a DuckDB query over the generated inputs and the op's
  * output (view `out`) that lists violations; it passes when empty.
  */
object ScaleWorkload extends Workload {
  val Entities = 5000L
  val Facts = 200000L        // 40 per entity, one per time slot
  val Spine = 60000L
  val Docs = 1500L           // every 10th a one-word edit of its predecessor
  val Candidates = 10000L
  val Queries = 32L
  val Dim = 32
  val TableRows = 60000L
  val Updates = 12000L       // half update existing keys, half insert

  val passSeconds = 4.0
  override val warmPasses = 1

  private val Slot = 3600L * 1000000L // one fact per entity per hour
  private def h(m: Long, salt: Int, seed: Long) = s"pmod(xxhash64(id, $salt, ${seed}L), $m)"
  private def read(ctx: Ctx, t: String): DataFrame = ctx.spark.read.parquet(s"${ctx.data}/$t")
  private def table(ctx: Ctx) = TxTable(ctx.spark, ctx.dir.resolve("tx").toString)

  val ops: Seq[Op] = Seq(
    Op("asof_locf", ctx => AsOfJoin.locf(read(ctx, "spine"), read(ctx, "facts"),
      Seq("entity_id"), "ts", "ts", Seq("value"), "seq")),
    Op("latest_agg", ctx => Latest.latestAgg(read(ctx, "facts"), Seq("entity_id"), "ts", "seq", Seq("value"))),
    Op("minhash_pairs", ctx => Dedup.minhashPairs(read(ctx, "docs"), "doc_id", "text")),
    Op("cosine_topk", ctx => Similarity.cosineTopK(read(ctx, "candidates"), read(ctx, "queries"),
      "id", "vec", "qid", "qvec", k = 10)),
    // merging the same batch again leaves the same rows, so the output is
    // stable while every execution still rewrites the files it touches
    Op("tx_merge", { ctx =>
      val t = table(ctx)
      t.merge(read(ctx, "updates"), Seq("key"), "ts", "seq")
      t.read()
    }))

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    val writes = new DataGen.Writes
    def write(df: DataFrame, t: String): Unit = writes(df, s"${ctx.data}/$t")
    val t0 = "unix_micros(timestamp'2024-01-01 00:00:00')"
    write(spark.range(Facts).selectExpr(s"id % $Entities as entity_id",
      s"timestamp_micros($t0 + (id div $Entities) * ${Slot}L + ${h(Slot, 1, seed)}) as ts",
      "id as seq", s"round(${h(1000000, 2, seed)} / 100d, 2) as value"), "facts")
    write(spark.range(Spine).selectExpr(s"${h(Entities, 3, seed)} as entity_id",
      s"timestamp_micros($t0 + ${h(Facts / Entities * Slot, 4, seed)}) as ts",
      "id as spine_id"), "spine")
    val vocab = (0 until 400).map(i => s"'w$i'").mkString("array(", ",", ")")
    write(spark.range(Docs).selectExpr("id", "if(id % 10 = 9, id - 1, id) as base")
      .selectExpr("id as doc_id",
        s"concat_ws(' ', transform(sequence(1, cast(pmod(xxhash64(base, 5, ${seed}L), 50) + 30 as int)), " +
          s"j -> if(id != base and j = 3, 'edited', element_at($vocab, " +
          s"cast(pmod(xxhash64(base, j, 6, ${seed}L), 400) as int) + 1)))) as text"), "docs")
    val vec = (salt: Int) => s"transform(sequence(0, ${Dim - 1}), j -> " +
      s"cast((pmod(xxhash64(id, j, $salt, ${seed}L), 2001) - 1000) / 1000d as float))"
    write(spark.range(Candidates).selectExpr("id", s"${vec(7)} as vec"), "candidates")
    write(spark.range(Queries).selectExpr("id + 1000000000 as qid", s"${vec(8)} as qvec"), "queries")
    val rows = (n: Long, keyExpr: String, tsBase: String, salt: Int) => spark.range(n).selectExpr(
      s"$keyExpr as key", s"timestamp_micros($tsBase + ${h(1000000000L, salt, seed)}) as ts",
      "id as seq", s"round(${h(100000, salt + 1, seed)} / 10d, 1) as v1",
      s"concat('s', ${h(1000, salt + 2, seed)}) as v2")
    write(rows(TableRows, "id", t0, 10), "base")
    // update keys: even rows hit existing keys, odd rows are new; update
    // times are later than every base row's, so each update wins
    write(rows(Updates, s"if(id % 2 = 0, ${h(TableRows, 20, seed)}, $TableRows + id)",
      s"$t0 + 2000000000L", 21).dropDuplicates("key"), "updates")
    writes.await()
    table(ctx).append(read(ctx, "base").repartition(8))
  }

  def views(ctx: Ctx): Map[String, String] =
    Seq("facts", "spine", "docs", "candidates", "queries", "base", "updates")
      .map(t => t -> s"${ctx.data}/$t/*.parquet").toMap

  def oracle: Map[String, String] = Map.empty

  override def violations: Map[String, String] = Map(
    // the latest fact at or before each spine time (fact times are unique
    // per entity, so there are no ties to break)
    "asof_locf" ->
      """WITH want AS (
        |  SELECT s.entity_id, s.ts, s.spine_id, f.value, f.ts AS ts__timestamp
        |  FROM spine s ASOF LEFT JOIN facts f ON s.entity_id = f.entity_id AND f.ts <= s.ts)
        |(SELECT * FROM want EXCEPT ALL SELECT entity_id, ts, spine_id, value, ts__timestamp FROM out)
        |UNION ALL
        |(SELECT entity_id, ts, spine_id, value, ts__timestamp FROM out EXCEPT ALL SELECT * FROM want)""".stripMargin,
    "latest_agg" ->
      """WITH want AS (SELECT entity_id, arg_max(value, ts) AS value, max(ts) AS ts FROM facts GROUP BY 1)
        |(SELECT * FROM want EXCEPT ALL SELECT entity_id, value, ts FROM out)
        |UNION ALL
        |(SELECT entity_id, value, ts FROM out EXCEPT ALL SELECT * FROM want)""".stripMargin,
    // every planted near-duplicate is found, and nothing else pairs up
    // (random 30-80 word documents over 400 words share no 3-shingles)
    "minhash_pairs" ->
      """WITH want AS (SELECT doc_id - 1 AS id_a, doc_id AS id_b FROM docs WHERE doc_id % 10 = 9)
        |(SELECT * FROM want EXCEPT SELECT id_a, id_b FROM out)
        |UNION ALL
        |(SELECT id_a, id_b FROM out EXCEPT SELECT * FROM want)""".stripMargin,
    // k results per query, each at least as close as the true k-th best
    // (rounding-tolerant, so float ties at the boundary cannot flip it)
    "cosine_topk" ->
      """WITH sims AS (
        |  SELECT q.qid, c.id, list_cosine_similarity(c.vec, q.qvec) AS sim
        |  FROM candidates c CROSS JOIN queries q),
        |kth AS (SELECT qid, min(sim) AS kth FROM
        |  (SELECT qid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS r FROM sims)
        |  WHERE r <= 10 GROUP BY qid)
        |SELECT qid, 'wrong count' AS why FROM (SELECT qid, count(*) AS n FROM out GROUP BY qid)
        |  WHERE n != 10
        |UNION ALL SELECT qid, 'missing query' FROM queries WHERE qid NOT IN (SELECT qid FROM out)
        |UNION ALL SELECT o.qid, 'not a top-10 neighbour' FROM out o JOIN sims s USING (qid, id)
        |  JOIN kth USING (qid) WHERE s.sim < kth.kth - 1e-4""".stripMargin,
    "tx_merge" ->
      """WITH want AS (SELECT key, ts, seq, v1, v2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS r
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)) WHERE r = 1)
        |(SELECT * FROM want EXCEPT ALL SELECT key, ts, seq, v1, v2 FROM out)
        |UNION ALL
        |(SELECT key, ts, seq, v1, v2 FROM out EXCEPT ALL SELECT * FROM want)""".stripMargin)
}
