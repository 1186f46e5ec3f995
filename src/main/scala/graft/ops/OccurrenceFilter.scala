package graft.ops

/** Per-partition kernel of [[Dedup.coveredPositionsHash]]: streams a
  * shingle-key-partitioned `(key, payload)` iterator and emits exactly the
  * `payload` values whose key occurs ≥ `minOcc` times in the partition —
  * no sort, no full-partition buffering.
  *
  * The payload is ONE opaque long (r9: the caller packs `id << 20 | pos`
  * — verdict item 2 — so the corpus-wide exchange feeding this kernel
  * carries 16 B rows instead of 24 B, and the parked store here holds one
  * long per row instead of two; the kernel itself never looks inside).
  *
  * Memory contract (the hot-key property the r7 buffered-replay shape
  * lacked): the emit decision is monotone — once a key's running count
  * REACHES `minOcc`, every one of its rows qualifies — so only the first
  * `minOcc − 1` rows of each key ever park; the moment the count hits
  * `minOcc` the parked rows flush together with the current row, and
  * every later row of that key emits immediately. Per-task state is
  * therefore the open-addressing count table (8 B key + 4 B count + 4 B
  * park head per distinct key) plus ≤ `minOcc − 1` parked rows (12 B
  * each) per distinct key — bounded by the partition's DISTINCT-key
  * count, never by any single key's occurrence count. A boilerplate
  * shingle with 10⁹ occurrences (hash partitioning cannot split one key
  * across tasks) streams through in O(1) extra memory; the superseded
  * window twin pays a spillable sort for the same safety.
  *
  * Output order interleaves parked flushes with the input stream — the
  * consumer frame is unordered (SubstringDedupSpec pins set equality
  * against the window twin).
  *
  * Both the count table and the parked store double with a Long-domain
  * load check and a hard 2³⁰ capacity ceiling that fails with an explicit
  * message instead of the confusing `NegativeArraySizeException` an Int
  * `cap <<= 1` overflow would throw (r7 advice) — reaching it means ~640M
  * distinct keys in ONE task, i.e. `parts` is mis-sized for the corpus.
  */
/** Per-partition kernel of [[Dedup.shingleOccurrenceTable]] /
  * [[Dedup.mergeOccurrenceTables]]: sums `weight` per key over a
  * key-partitioned `(key, weight)` iterator and emits one `(key, sum)`
  * row per distinct key — the sort-free twin of `groupBy(key).sum()`,
  * which on a MOSTLY-UNIQUE key stream degrades into full-stream
  * sort-based aggregate fallbacks (the measured finding-9 pathology that
  * motivated [[OccurrenceFilter]]; this kernel is the AGGREGATING sibling
  * for when the counts themselves are the output, e.g. the persisted
  * occurrence table of the incremental substring-dedup lane).
  *
  * Memory contract: the open-addressing table (8 B key + 8 B sum per
  * distinct key, 0.6 load) — bounded by the partition's DISTINCT-key
  * count, never by any key's row count. Same doubling + loud 2³⁰
  * capacity ceiling as [[OccurrenceFilter]]. Emission happens after the
  * input drains (it is an aggregate), in table-slot order — consumers
  * must not assume ordering. */
private[graft] final class KeyedSum {
  private[this] val MaxCap = 1 << 30
  private[this] var cap = 1 << 12
  private[this] var mask = cap - 1
  private[this] var keys = new Array[Long](cap)
  private[this] var sums = new Array[Long](cap)
  private[this] var present = new Array[Boolean](cap)
  private[this] var used = 0

  private def mix(k: Long): Int = {
    var h = k ^ (k >>> 33)
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 29
    (h & mask).toInt
  }

  private def grow(): Unit = {
    if (cap == MaxCap)
      throw new IllegalStateException(
        s"KeyedSum: > ~${(MaxCap.toLong * 6 / 10) / 1000000}M distinct " +
          "keys in one partition — raise parts so partitions carry fewer " +
          "distinct keys")
    val ok = keys; val os = sums; val op = present
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap); sums = new Array[Long](cap)
    present = new Array[Boolean](cap)
    var i = 0
    while (i < ok.length) {
      if (op(i)) {
        var j = mix(ok(i))
        while (present(j)) j = (j + 1) & mask
        keys(j) = ok(i); sums(j) = os(i); present(j) = true
      }
      i += 1
    }
  }

  def apply(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    while (it.hasNext) {
      val (k, w) = it.next()
      var j = mix(k)
      while (present(j) && keys(j) != k) j = (j + 1) & mask
      if (!present(j)) {
        if ((used + 1).toLong * 10 >= cap.toLong * 6) {
          grow()
          j = mix(k)
          while (present(j) && keys(j) != k) j = (j + 1) & mask
        }
        keys(j) = k; present(j) = true
        used += 1
      }
      sums(j) += w
    }
    val ks = keys; val ss = sums; val ps = present
    (0 until cap).iterator.filter(ps(_)).map(i => (ks(i), ss(i)))
  }
}

/** Two-accumulator sibling of [[KeyedSum]]: sums `(wa, wb)` per key over
  * a key-partitioned `(key, wa, wb)` iterator — the one-pass kernel
  * behind [[Dedup.retroactiveSpanSweepDelta]]'s crossed-key computation,
  * where the previous state and the increment deltas union into ONE
  * exchange and each key needs BOTH sums (prev, delta) to answer "did it
  * cross the threshold". Same open-addressing table, memory contract,
  * doubling, and loud 2³⁰ ceiling as [[KeyedSum]]; emission after the
  * input drains, in table-slot order. */
private[graft] final class KeyedSum2 {
  private[this] val MaxCap = 1 << 30
  private[this] var cap = 1 << 12
  private[this] var mask = cap - 1
  private[this] var keys = new Array[Long](cap)
  private[this] var sumA = new Array[Long](cap)
  private[this] var sumB = new Array[Long](cap)
  private[this] var present = new Array[Boolean](cap)
  private[this] var used = 0

  private def mix(k: Long): Int = {
    var h = k ^ (k >>> 33)
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 29
    (h & mask).toInt
  }

  private def grow(): Unit = {
    if (cap == MaxCap)
      throw new IllegalStateException(
        s"KeyedSum2: > ~${(MaxCap.toLong * 6 / 10) / 1000000}M distinct " +
          "keys in one partition — raise parts so partitions carry fewer " +
          "distinct keys")
    val ok = keys; val oa = sumA; val ob = sumB; val op = present
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap); sumA = new Array[Long](cap)
    sumB = new Array[Long](cap); present = new Array[Boolean](cap)
    var i = 0
    while (i < ok.length) {
      if (op(i)) {
        var j = mix(ok(i))
        while (present(j)) j = (j + 1) & mask
        keys(j) = ok(i); sumA(j) = oa(i); sumB(j) = ob(i); present(j) = true
      }
      i += 1
    }
  }

  def apply(it: Iterator[(Long, Long, Long)]): Iterator[(Long, Long, Long)] = {
    while (it.hasNext) {
      val (k, wa, wb) = it.next()
      var j = mix(k)
      while (present(j) && keys(j) != k) j = (j + 1) & mask
      if (!present(j)) {
        if ((used + 1).toLong * 10 >= cap.toLong * 6) {
          grow()
          j = mix(k)
          while (present(j) && keys(j) != k) j = (j + 1) & mask
        }
        keys(j) = k; present(j) = true
        used += 1
      }
      sumA(j) += wa
      sumB(j) += wb
    }
    val ks = keys; val sa = sumA; val sb = sumB; val ps = present
    (0 until cap).iterator.filter(ps(_)).map(i => (ks(i), sa(i), sb(i)))
  }
}

private[graft] final class OccurrenceFilter(minOcc: Int) {
  require(minOcc >= 2, s"minOcc must be >= 2, got $minOcc")

  private[this] val MaxCap = 1 << 30

  // open-addressing count map over primitive longs (no boxing, no
  // per-key objects); empty slot ⇔ cnts == 0 (a present key always
  // counts ≥ 1, so hash-key 0 needs no sentinel). heads(j) = index of
  // the key's newest parked row, -1 = none.
  private[this] var cap = 1 << 12
  private[this] var mask = cap - 1
  private[this] var keys = new Array[Long](cap)
  private[this] var cnts = new Array[Int](cap)
  private[this] var heads = newHeads(cap)
  private[this] var used = 0

  // parked store: singly-linked per key through pNext; entries of keys
  // that reached minOcc become garbage but each key parks ≤ minOcc−1
  // rows EVER, so the store is bounded by distinct × (minOcc − 1).
  private[this] var pCap = 1 << 12
  private[this] var pVal = new Array[Long](pCap)
  private[this] var pNext = new Array[Int](pCap)
  private[this] var pN = 0

  /** observability for the hot-key stress spec */
  private[graft] def tableCapacity: Int = cap
  private[graft] def parkedCapacity: Int = pCap
  private[graft] def parkedCount: Int = pN

  private def newHeads(n: Int): Array[Int] = {
    val h = new Array[Int](n)
    java.util.Arrays.fill(h, -1)
    h
  }

  private def mix(k: Long): Int = {
    var h = k ^ (k >>> 33)
    h *= 0xff51afd7ed558ccdL // murmur3 fmix64 multiplier
    h ^= h >>> 29
    (h & mask).toInt
  }

  private def grow(): Unit = {
    if (cap == MaxCap)
      throw new IllegalStateException(
        s"OccurrenceFilter: > ~${(MaxCap.toLong * 6 / 10) / 1000000}M " +
          "distinct keys in one partition — raise " +
          "spark.sql.shuffle.partitions so partitions carry fewer " +
          "distinct shingles")
    val ok = keys; val oc = cnts; val oh = heads
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap); cnts = new Array[Int](cap)
    heads = newHeads(cap)
    var i = 0
    while (i < ok.length) {
      if (oc(i) != 0) {
        var j = mix(ok(i))
        while (cnts(j) != 0) j = (j + 1) & mask
        keys(j) = ok(i); cnts(j) = oc(i); heads(j) = oh(i)
      }
      i += 1
    }
  }

  /** slot of `k`, inserting (count 0) if absent — caller increments. */
  private def slotFor(k: Long): Int = {
    var j = mix(k)
    while (cnts(j) != 0 && keys(j) != k) j = (j + 1) & mask
    if (cnts(j) == 0) {
      if ((used + 1).toLong * 10 >= cap.toLong * 6) { // 0.6 load, Long math
        grow()
        return slotFor(k)
      }
      keys(j) = k
      used += 1
    }
    j
  }

  private def park(slot: Int, v: Long): Unit = {
    if (pN == pCap) {
      if (pCap == MaxCap)
        throw new IllegalStateException(
          "OccurrenceFilter: parked-row store exceeded 2^30 entries — " +
            "raise spark.sql.shuffle.partitions (store is distinct-keys " +
            "× (minOcc−1))")
      pCap <<= 1
      pVal = java.util.Arrays.copyOf(pVal, pCap)
      pNext = java.util.Arrays.copyOf(pNext, pCap)
    }
    pVal(pN) = v
    pNext(pN) = heads(slot); heads(slot) = pN
    pN += 1
  }

  def apply(it: Iterator[(Long, Long)]): Iterator[Long] =
    it.flatMap { case (k, v) =>
      val j = slotFor(k)
      cnts(j) += 1
      val c = cnts(j)
      if (c < minOcc) {
        park(j, v)
        Iterator.empty
      } else if (c == minOcc) {
        // threshold crossed: flush the key's minOcc−1 parked rows + this
        val out = new Array[Long](c)
        var i = 0
        var cur = heads(j)
        while (cur != -1) {
          out(i) = pVal(cur); i += 1
          cur = pNext(cur)
        }
        heads(j) = -1 // parked entries become garbage; never re-parks
        out(i) = v
        out.iterator
      } else Iterator.single(v)
    }
}
