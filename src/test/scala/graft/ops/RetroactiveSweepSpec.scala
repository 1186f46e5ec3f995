package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The retroactive-coverage sweep — the incremental span-dedup lane's
  * other lambda half: accumulated increments can push BASE shingles over
  * the threshold, and the cadenced sweep must recompute exactly the
  * affected base docs' spans from the persisted positions index (never
  * re-shingling base text), such that
  * kept-prior ∪ sweep ∪ incremental == full batch recompute. */
class RetroactiveSweepSpec extends SparkSpec {
  import spark.implicits._

  private val P = "p1 p2 p3 p4 p5" // covered ALREADY in base (3 docs)
  private val Q = "q1 q2 q3 q4 q5" // crosses via increment doc 11
  private val S = "s1 s2 s3 s4 s5" // crosses via increment doc 12
  private def base = Seq(
    (1L, s"a1 a2 $P a3"),
    (2L, s"b1 $P b2 b3"),
    (3L, s"c1 c2 $Q c3"),
    (4L, "d1 d2 d3 d4 d5 d6"),
    (5L, s"$S $P") // S crossing merges islands with the existing P span
  ).toDF("doc_id", "text")
  private def inc = Seq(
    (11L, s"z1 $Q z2"),
    (12L, s"y1 y2 $S")
  ).toDF("doc_id", "text")

  private def spanRows(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "span_id", "span_start", "span_end", "n_shingles")
      .orderBy("id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSeq

  private def sweepComposition(baseDf: org.apache.spark.sql.DataFrame,
                               incDf: org.apache.spark.sql.DataFrame,
                               n: Int) = {
    val prevOcc = Dedup.shingleOccurrenceTable(baseDf, "text", n = n)
    val curOcc = Dedup.mergeOccurrenceTables(prevOcc,
      Dedup.shingleOccurrenceTable(incDf, "text", n = n))
    val positions = Dedup.shinglePositionsTable(baseDf, "doc_id", "text",
      n = n)
    val sweep = Dedup.retroactiveSpanSweep(positions, prevOcc, curOcc,
      n = n)
    val prior = Dedup.repeatedSpans(baseDf, "doc_id", "text", n = n)
    prior.join(sweep.select("id").distinct(), Seq("id"), "left_anti")
      .unionByName(sweep)
  }

  test("hand corpus: sweep recomputes exactly the affected base docs — " +
    "crossing fires, islands merge, already-covered docs untouched") {
    val composed = sweepComposition(base, inc, n = 5)
    val full = Dedup.repeatedSpans(base.unionByName(inc), "doc_id", "text",
      n = 5)
    assert(spanRows(composed) ===
      spanRows(full.filter(col("id") <= 5L)))
    // the engineered shapes: docs 1/2 keep their prior P spans verbatim;
    // doc 3 gains its Q span via the crossing; doc 4 stays clean; doc 5's
    // new S coverage MERGES with the existing P island into one [0,10)
    // span of two shingle windows
    assert(spanRows(composed) === Seq(
      (1L, 1L, 2, 7, 1L),
      (2L, 1L, 1, 6, 1L),
      (3L, 1L, 2, 7, 1L),
      (5L, 1L, 0, 10, 2L)))
    // and the sweep itself emitted ONLY the affected docs
    val prevOcc = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    val curOcc = Dedup.mergeOccurrenceTables(prevOcc,
      Dedup.shingleOccurrenceTable(inc, "text", n = 5))
    val sweep = Dedup.retroactiveSpanSweep(
      Dedup.shinglePositionsTable(base, "doc_id", "text", n = 5),
      prevOcc, curOcc, n = 5)
    assert(sweep.select("id").distinct().as[Long].collect().toSet ===
      Set(3L, 5L))
  }

  test("sliced affected recompute (sliceAffected, r12 verdict item 6) " +
    "== single-slice, row-identical — pair AND delta forms; slice count " +
    "follows the cap") {
    val prevOcc = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    val deltaOcc = Dedup.shingleOccurrenceTable(inc, "text", n = 5)
    val curOcc = Dedup.mergeOccurrenceTables(prevOcc, deltaOcc)
    val positions = Dedup.shinglePositionsTable(base, "doc_id", "text",
      n = 5)
    val whole = Dedup.retroactiveSpanSweep(positions, prevOcc, curOcc,
      n = 5)
    // 2 affected docs (3 and 5) — sliceAffected = 1 forces 2 slices,
    // each materialized and released before the next (the bounded
    // working set path)
    val sliced = Dedup.retroactiveSpanSweep(positions, prevOcc, curOcc,
      n = 5, sliceAffected = 1)
    assert(spanRows(sliced) === spanRows(whole))
    val slicedDelta = Dedup.retroactiveSpanSweepDelta(positions, prevOcc,
      deltaOcc, n = 5, sliceAffected = 1)
    assert(spanRows(slicedDelta) === spanRows(whole))
    // sliceAffected <= 0 disables slicing (the escape hatch)
    assert(spanRows(Dedup.retroactiveSpanSweep(positions, prevOcc,
      curOcc, n = 5, sliceAffected = 0)) === spanRows(whole))
  }

  test("sweep ∪ kept-prior ∪ incremental == full batch recompute " +
    "(the complete lambda split)") {
    val baseOcc = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    val incremental = Dedup.incrementalRepeatedSpans(inc, "doc_id", "text",
      baseOcc, n = 5)
    val composed = sweepComposition(base, inc, n = 5)
      .unionByName(incremental)
    val full = Dedup.repeatedSpans(base.unionByName(inc), "doc_id", "text",
      n = 5)
    assert(spanRows(composed) === spanRows(full))
  }

  test("multi-row occurrence inputs (OccStateStore.read contract): " +
    "base + uncompacted deltas pass straight in, same spans") {
    val n = 5
    val prevParts = Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") <= 2L), "text", n = n)
      .unionByName(Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") > 2L), "text", n = n))
    val curParts = prevParts.unionByName(
      Dedup.shingleOccurrenceTable(inc, "text", n = n))
    val positions = Dedup.shinglePositionsTable(base, "doc_id", "text",
      n = n)
    val viaParts = Dedup.retroactiveSpanSweep(positions, prevParts,
      curParts, n = n)
    val viaMerged = Dedup.retroactiveSpanSweep(positions,
      Dedup.aggregateOccurrences(prevParts),
      Dedup.aggregateOccurrences(curParts), n = n)
    assert(spanRows(viaParts) === spanRows(viaMerged))
    assert(spanRows(viaParts).nonEmpty)
  }

  test("delta form == pair form, row-exact (hand + real corpus + " +
    "multi-row delta segments); slim-first crossed == two-aggregate crossed") {
    val n = 5
    val positions = Dedup.shinglePositionsTable(base, "doc_id", "text",
      n = n)
    val prevOcc = Dedup.shingleOccurrenceTable(base, "text", n = n)
    val deltaOcc = Dedup.shingleOccurrenceTable(inc, "text", n = n)
    val pair = Dedup.retroactiveSpanSweep(positions, prevOcc,
      Dedup.mergeOccurrenceTables(prevOcc, deltaOcc), n = n)
    val delta = Dedup.retroactiveSpanSweepDelta(positions, prevOcc,
      deltaOcc, n = n)
    assert(spanRows(delta) === spanRows(pair))
    // multi-row inputs on BOTH args (the store's base + per-batch delta
    // segments shape): prev split in two, delta split in two
    val prevParts = Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") <= 2L), "text", n = n)
      .unionByName(Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") > 2L), "text", n = n))
    val deltaParts = Dedup.shingleOccurrenceTable(
        inc.filter(col("doc_id") === 11L), "text", n = n)
      .unionByName(Dedup.shingleOccurrenceTable(
        inc.filter(col("doc_id") === 12L), "text", n = n))
    assert(spanRows(Dedup.retroactiveSpanSweepDelta(positions, prevParts,
      deltaParts, n = n)) === spanRows(pair))
    // real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val baseDf = docs.filter(col("doc_id") % 2 === 0)
    val incDf = docs.filter(col("doc_id") % 2 === 1)
    val rPos = Dedup.shinglePositionsTable(baseDf, "doc_id", "text", n = 10)
    val rPrev = Dedup.shingleOccurrenceTable(baseDf, "text", n = 10)
    val rDelta = Dedup.shingleOccurrenceTable(incDf, "text", n = 10)
    val rPair = Dedup.retroactiveSpanSweep(rPos, rPrev,
      Dedup.mergeOccurrenceTables(rPrev, rDelta), n = 10)
    val rDeltaForm = Dedup.retroactiveSpanSweepDelta(rPos, rPrev, rDelta,
      n = 10)
    assert(spanRows(rDeltaForm) === spanRows(rPair))
    assert(spanRows(rDeltaForm).nonEmpty)
  }

  test("sweepFromCrossed: a crossed-key-pruned positionsForCrossed frame " +
    "(the ZoneIndex file-pruning contract) gives row-identical sweeps") {
    val n = 5
    val positions = Dedup.shinglePositionsTable(base, "doc_id", "text",
      n = n)
    val prevOcc = Dedup.shingleOccurrenceTable(base, "text", n = n)
    val deltaOcc = Dedup.shingleOccurrenceTable(inc, "text", n = n)
    val plain = Dedup.retroactiveSpanSweepDelta(positions, prevOcc,
      deltaOcc, n = n)
    val crossed = Dedup.crossedKeysDelta(prevOcc, deltaOcc)
    // the r14 regime gate: BOTH branches — the bulk tagged-union kernel
    // and the small-delta slim-first shape — produce the same crossed
    // key set (each is pinned explicitly; crossedKeysDelta picks one by
    // delta plan-stats size)
    val dAgg = Dedup.aggregateOccurrences(deltaOcc)
      .select(col("shingle"), col("occ").as("d_occ")).localCheckpoint()
    val slimFirst = Dedup.crossedFromDeltaAgg(prevOcc, dAgg)
      .collect().map(_.getLong(0)).toSet
    val tagged = Dedup.taggedCrossed(prevOcc, deltaOcc, 2)
      .collect().map(_.getLong(0)).toSet
    assert(slimFirst === tagged)
    assert(slimFirst === crossed.collect().map(_.getLong(0)).toSet)
    assert(slimFirst.nonEmpty)
    // the pruning contract: positionsForCrossed must keep every row whose
    // shingle ∈ crossed — a row-filtered superset models what file-level
    // zone pruning produces (plus arbitrary extra rows, here half of one
    // unaffected doc, proving extras are harmless)
    val prunedFor = positions.join(
        crossed.withColumnRenamed("shingle", "s"),
        col("shingle") === col("s"), "left_semi")
      .unionByName(positions.filter(col("id") === 3L && col("pos") < 2))
    val viaPruned = Dedup.sweepFromCrossed(prunedFor, positions, crossed,
      Dedup.mergeOccurrenceTables(prevOcc, deltaOcc), n = n)
    assert(spanRows(viaPruned) === spanRows(plain))
    assert(spanRows(viaPruned).nonEmpty)
  }

  test("real corpus: even/odd split — sweep composition == batch " +
    "recompute restricted to base ids") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val baseDf = docs.filter(col("doc_id") % 2 === 0)
    val incDf = docs.filter(col("doc_id") % 2 === 1)
    val composed = sweepComposition(baseDf, incDf, n = 10)
    val full = Dedup.repeatedSpans(docs, "doc_id", "text", n = 10)
      .filter(col("id") % 2 === 0)
    assert(spanRows(composed) === spanRows(full))
    assert(spanRows(composed).nonEmpty, "fixture must exercise base spans")
  }

  test("property: random corpora with seeded shared phrases — " +
    "composition == full recompute under arbitrary splits") {
    val rng = new scala.util.Random(31)
    val phrases = Seq(
      "lorem ipsum dolor sit amet consectetur",
      "the quick brown fox jumps over",
      "pack my box with five dozen")
    def doc(id: Long): (Long, String) = {
      val parts = Seq.fill(rng.nextInt(4) + 1) {
        if (rng.nextBoolean()) phrases(rng.nextInt(phrases.length))
        else Seq.fill(rng.nextInt(8) + 3)(s"w${rng.nextInt(200)}")
          .mkString(" ")
      }
      (id, parts.mkString(" "))
    }
    for (trial <- 1 to 3) {
      val docs = (1L to 24L).map(doc)
      val cut = rng.nextInt(20) + 2
      val baseDf = docs.filter(_._1 <= cut).toDF("doc_id", "text")
      val incDf = docs.filter(_._1 > cut).toDF("doc_id", "text")
      val composed = sweepComposition(baseDf, incDf, n = 4)
      val full = Dedup.repeatedSpans(
          baseDf.unionByName(incDf), "doc_id", "text", n = 4)
        .filter(col("id") <= cut)
      assert(spanRows(composed) === spanRows(full), s"trial $trial cut $cut")
    }
  }

  test("guards: malformed positions frame fails loudly") {
    val occ = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    val e = intercept[IllegalArgumentException] {
      Dedup.retroactiveSpanSweep(Seq((1L, 2L)).toDF("a", "b"), occ, occ)
    }
    assert(e.getMessage.contains("shinglePositionsTable"))
  }
}
