package graft.ops

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed PageRank over an edge list — the iterative-join workload
  * class ([[Dedup.dupClusters]] covers the label-propagation one).
  *
  * Fixed-point arithmetic (the oracle contract): ranks live as integer
  * "picorank" units (initial mass = 10¹² DIV n per node) and every
  * division is a floor DIV — identical in Spark and DuckDB, so after any
  * number of iterations the values match bit-for-bit. A float PageRank
  * accumulates summation-order error that a 10-round iteration amplifies
  * past any fixed rounding; deterministic mass leak is the price of an
  * exact cross-engine gate. Two leak sources, both deterministic: floor
  * division drops ≤ deg units per node per round, and — this is the
  * PageRank-WITHOUT-dangling-redistribution variant — a sink node
  * (deg = 0) simply drops its whole rank mass each round rather than
  * redistributing it uniformly. The oracle twin implements the identical
  * semantics, so results stay exact either way; callers needing the
  * mass-conserving textbook variant should add the dangling term on both
  * sides (or symmetrize the graph, as q84 does, so sinks cannot exist).
  *
  * Update rule per round, damping d = `dampingPct`/100:
  *   contrib(v) = Σ_{u→v} rank(u) DIV deg(u)
  *   rank'(v)   = ((100−d)·(10¹² DIV n)) DIV 100 + (d·contrib(v)) DIV 100
  *
  * Two regimes, split by the node count n against `broadcastRanksMaxNodes`
  * (2M by default). The edges are checkpointed once, and one capped pass
  * over that checkpoint builds the node → out-degree map; a task stops
  * reading once its map passes the gate, so the pass is cheap either way.
  *   - In the gate, the rank vector lives on the driver. Each round
  *     broadcasts `rank DIV deg` per node and runs ONE job over the edge
  *     checkpoint that returns per-destination contribution sums (a task's
  *     result is bounded by its distinct destinations); the driver applies
  *     the update. A call is the edge checkpoint, the degree pass and one
  *     job per round, with no per-round plan and no session-conf change.
  *     Driver memory is O(n) ≤ gate entries, the envelope a broadcast rank
  *     frame of the same size needs.
  *   - Past the gate, the DataFrame loop: edges are re-keyed by src and the
  *     degree table by node once, in checkpoints that keep their hash
  *     partitioning, so each round's rank⋈edges join is co-partitioned and
  *     the contrib aggregate (contributions regroup by destination) is the
  *     only per-round exchange. Lineage is cut every [[CheckpointEvery]]
  *     rounds.
  * Both regimes return (node, rank) ascending by node and treat a null
  * endpoint alike: the null node is ranked and receives contributions,
  * but never sends any (a null src joins nothing).
  */
object Graph {

  val Unit: Long = 1000000000000L // 10^12 picorank = total initial mass

  /** Past-gate rounds per lineage cut: each eager checkpoint is a full
    * rank-frame materialization, while a few rounds of plan stay cheap to
    * optimize. */
  private val CheckpointEvery = 5

  /** PageRank over directed `edges` (src, dst). Nodes = every endpoint.
    * Returns (node, rank) with rank in picorank units, sorted by node.
    * `checkpoint = false` keeps the past-gate loop's whole lineage (for
    * plan audits). */
  def pageRank(edges: DataFrame, iterations: Int = 10, dampingPct: Int = 85,
               checkpoint: Boolean = true,
               broadcastRanksMaxNodes: Long = 2000000L): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint()
    val deg = foldEdges(e, () => new KeySums(broadcastRanksMaxNodes)) {
      (acc, row) =>
        acc.add(row, 0, 1L) // one out-edge of src
        acc.add(row, 1, 0L) // dst is a node, even as a sink
        !acc.overflow
    }(_ merge _)
    val n = deg.sums.size + (if (deg.hasNull) 1L else 0L)
    require(deg.overflow || n > 0, "pageRank needs a non-empty graph")
    if (deg.overflow || n > broadcastRanksMaxNodes)
      pageRankLoop(rekey(e, "src"), iterations, dampingPct, checkpoint)
    else pageRankOnDriver(e, deg, n, iterations, dampingPct)
  }

  /** The in-gate rounds: ranks in driver arrays, one edge job per round. */
  private def pageRankOnDriver(e: DataFrame, deg: KeySums, n: Long,
                               iterations: Int, dampingPct: Int): DataFrame = {
    val sess = e.sparkSession
    val ids = deg.sums.keys.toArray.sorted
    val outDeg = ids.map(deg.sums)
    val init = Unit / n
    val base = ((100L - dampingPct) * init) / 100L
    var rank = Array.fill(ids.length)(init)
    var nullRank = init
    for (_ <- 1 to iterations) {
      val share = mutable.LongMap.empty[Long]
      for (i <- ids.indices if outDeg(i) > 0) share(ids(i)) = rank(i) / outDeg(i)
      val bShare = sess.sparkContext.broadcast(share)
      val contrib = foldEdges(e, () => new KeySums(Long.MaxValue)) {
        (acc, row) =>
          if (!row.isNullAt(0)) acc.add(row, 1, bShare.value(row.getLong(0)))
          true
      }(_ merge _)
      bShare.destroy()
      rank = ids.map(v => base + (dampingPct * contrib.sums.getOrElse(v, 0L)) / 100L)
      nullRank = base + (dampingPct * contrib.nullSum) / 100L
    }
    sortedPairsFrame(sess,
      StructType(Seq(StructField("node", LongType, e.schema.exists(_.nullable)),
        StructField("rank", LongType))),
      ids, rank, Option.when(deg.hasNull)(Row(null, nullRank)))
  }

  /** The past-gate loop over `e` keyed by src. Each round is ONE join of the
    * per-node share `rank DIV deg` (hoisted to the ≤ n-row rank side, as it
    * is constant across a node's out-edges) against the edges, plus ONE
    * aggregate on the destination that also carries each node's degree
    * through a unioned zero-contribution row, so no second join reattaches
    * it. */
  private def pageRankLoop(e: DataFrame, iterations: Int, dampingPct: Int,
                           checkpoint: Boolean): DataFrame = {
    val parts = e.sparkSession.sessionState.conf.numShufflePartitions
    // nodes + out-degrees in ONE shuffle: explode each edge into its two
    // endpoints with a source marker and sum the markers per node
    val nodesDeg = checkpointKeepingPartitioning(e.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("d")),
        struct(col("dst").as("node"), lit(0L).as("d")))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.d")).as("deg"))
      .repartition(parts, col("node")))
    val init = Unit / nodesDeg.count()
    val base = ((100L - dampingPct) * init) / 100L
    var ranks = nodesDeg.withColumn("rank", lit(init))
    for (i <- 1 to iterations) {
      val rankSide = ranks.filter(col("deg") > 0)
        .select(col("node"), expr("rank div deg").as("c"))
      val edgeContrib = rankSide
        .join(e, rankSide("node") === e("src"))
        .select(col("dst").as("node"), col("c"),
          lit(null).cast("long").as("d"))
      val zeroRows = nodesDeg.select(col("node"), lit(0L).as("c"),
        col("deg").as("d"))
      ranks = edgeContrib.unionByName(zeroRows)
        .groupBy("node")
        .agg(sum("c").as("contrib"), max("d").as("deg"))
        .select(col("node"), col("deg"),
          expr(s"${base}L + (${dampingPct}L * contrib) div 100").as("rank"))
      if (checkpoint && (i % CheckpointEvery == 0 || i == iterations))
        ranks = ranks.localCheckpoint()
    }
    ranks.select("node", "rank").orderBy("node")
  }

  /** One job over the checkpointed `edges`: each task folds its rows into a
    * fresh accumulator until `add` returns false (the accumulator is past
    * its cap), and the task results merge tree-wise. */
  private[ops] def foldEdges[A: ClassTag](edges: DataFrame, zero: () => A)(
      add: (A, InternalRow) => Boolean)(merge: (A, A) => A): A =
    edges.queryExecution.toRdd.mapPartitions { rows =>
      val acc = zero()
      while (rows.hasNext && add(acc, rows.next())) {}
      Iterator.single(acc)
    }.treeAggregate(zero())(merge, merge)

  /** A two-long-column frame over driver arrays — `keys` ascending, after
    * an optional null-key row (Spark's ascending order puts nulls first).
    * Built without a job: the arrays ship in per-partition slices. */
  private[ops] def sortedPairsFrame(sess: SparkSession, schema: StructType,
      keys: Array[Long], values: Array[Long],
      nullKeyRow: Option[Row]): DataFrame = {
    val sc = sess.sparkContext
    val step = math.max(1,
      (keys.length + sc.defaultParallelism - 1) / sc.defaultParallelism)
    val slices = keys.grouped(step).zip(values.grouped(step)).toSeq
    val rows = sc.parallelize(slices, math.max(1, slices.size))
      .mapPartitionsWithIndex { (p, it) =>
        (if (p == 0) nullKeyRow.iterator else Iterator.empty) ++
          it.flatMap { case (ks, vs) =>
            ks.indices.iterator.map(i => Row(ks(i), vs(i)))
          }
      }
    sess.createDataFrame(rows, schema)
  }

  /** Re-keys the eager edge checkpoint `ckpt` by `key` into a checkpoint
    * that keeps its hash partitioning, then releases `ckpt`'s blocks, so a
    * past-gate loop holds exactly one materialized edge table. */
  private[ops] def rekey(ckpt: DataFrame, key: String): DataFrame = {
    val keyed = checkpointKeepingPartitioning(ckpt.repartition(
      ckpt.sparkSession.sessionState.conf.numShufflePartitions, col(key)))
    ckpt.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    }
    keyed
  }

  /** Serializes [[checkpointKeepingPartitioning]]'s AQE-off scope (the conf
    * is session-global). */
  private object AqeScopeLock

  /** Eager localCheckpoint that PRESERVES the frame's hash partitioning in
    * the resulting LogicalRDD. `Dataset.localCheckpoint` records
    * `executedPlan.outputPartitioning`, but under AQE the executed plan is
    * an AdaptiveSparkPlanExec, which reports UnknownPartitioning, so every
    * downstream co-partitioning claim would die. Scoping AQE off around
    * just this materialization makes the capture see the real exchange.
    * The conf is session-global while the job runs: concurrent queries on
    * the same session run without AQE meanwhile. */
  private[ops] def checkpointKeepingPartitioning(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    AqeScopeLock.synchronized {
      val key = "spark.sql.adaptive.enabled"
      val before = sess.conf.get(key)
      sess.conf.set(key, "false")
      try df.localCheckpoint() finally sess.conf.set(key, before)
    }
  }

  /** The DuckDB twin: same fixed-point update, iterations unrolled as
    * chained CTEs (recursive CTEs restrict aggregation over the recursive
    * relation; unrolling sidesteps engine-specific recursion rules while
    * keeping every arithmetic step identical). `edgesSql` must yield
    * (src BIGINT, dst BIGINT). */
  def pageRankOracleSql(edgesSql: String, iterations: Int = 10,
                        dampingPct: Int = 85): String = {
    val d = dampingPct.toLong
    val head =
      s"""WITH e AS ($edgesSql),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         |nd AS (SELECT n.node, coalesce(d.deg, 0) AS deg
         |       FROM nodes n LEFT JOIN deg d USING (node)),
         |consts AS (SELECT ${Unit} // count(*) AS init,
         |                  ((100 - $d) * (${Unit} // count(*))) // 100 AS base
         |           FROM nd),
         |r0 AS (SELECT node, deg, (SELECT init FROM consts) AS rank FROM nd)
         |""".stripMargin
    val iters = (1 to iterations).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS (
         |  SELECT nd.node, nd.deg,
         |         (SELECT base FROM consts)
         |           + ($d * coalesce(c.contrib, 0)) // 100 AS rank
         |  FROM nd LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.rank // p.deg) AS BIGINT) AS contrib
         |    FROM $prev p JOIN e ON p.node = e.src
         |    WHERE p.deg > 0 GROUP BY e.dst) c USING (node))""".stripMargin
    }.mkString(",\n")
    head + "," + iters +
      s"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r$iterations ORDER BY node"
  }
}

/** Per-key sums of Long values over edge rows, plus the null key's sum.
  * `overflow` flags more than `cap` distinct non-null keys; past it [[add]]
  * stops growing the map. */
private[ops] final class KeySums(cap: Long) extends Serializable {
  val sums: mutable.LongMap[Long] = mutable.LongMap.empty[Long]
  var nullSum = 0L
  var hasNull = false
  var overflow = false

  /** Adds `v` under the key at `ordinal` of `row` (reading null as null,
    * never as 0). */
  def add(row: InternalRow, ordinal: Int, v: Long): Unit =
    if (row.isNullAt(ordinal)) { hasNull = true; nullSum += v }
    else if (!overflow) {
      val k = row.getLong(ordinal)
      sums(k) = sums.getOrElse(k, 0L) + v
      overflow = sums.size > cap
    }

  def merge(o: KeySums): KeySums = {
    hasNull ||= o.hasNull
    nullSum += o.nullSum
    overflow ||= o.overflow
    if (!overflow) {
      o.sums.foreachEntry((k, v) => sums(k) = sums.getOrElse(k, 0L) + v)
      overflow = sums.size > cap
    }
    this
  }
}
