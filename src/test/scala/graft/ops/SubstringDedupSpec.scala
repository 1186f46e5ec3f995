package graft.ops

import graft.SparkSpec

/** Substring-level exact dedup on hand-built corpora: span boundaries are
  * token-exact, within-doc repeats count, overlapping windows merge to one
  * maximal span, and the strip half reconstructs exactly the kept tokens. */
class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  // a 12-token block shared by docs 1 and 2 (different surroundings), a
  // 6-token block repeated TWICE within doc 3, and a doc 4 with no repeats
  private val common =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
  private val rep = "papa quebec romeo sierra tango uniform"
  private def corpus = Seq(
    (1L, s"one two three $common four five six"),
    (2L, s"seven eight $common nine"),
    (3L, s"$rep mike november oscar whiskey xray yankee $rep"),
    (4L, "zulu gamma epsilon theta iota lambda omicron upsilon")
  ).toDF("doc_id", "text")

  test("repeatedSpans: cross-doc span boundaries are exact and maximal") {
    val spans = Dedup.repeatedSpans(corpus, "doc_id", "text", n = 5)
      .orderBy("id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getLong(4)))
    // doc 1: common occupies tokens [3,15); 5-token windows fully inside
    // start at 3..10 (8 windows) → ONE merged span [3,15)
    // doc 2: common at [2,14) → span [2,14)
    // doc 3: rep at [0,6) and [12,18); within-rep windows start at {0,1}
    // and {12,13} → two spans [0,6) and [12,18)
    // doc 4: nothing
    assert(spans.toSeq === Seq(
      (1L, 1L, 3, 15, 8L),
      (2L, 1L, 2, 14, 8L),
      (3L, 1L, 0, 6, 2L),
      (3L, 2L, 12, 18, 2L)))
  }

  test("repeatedSpans: adjacent-but-distinct repeated windows merge into " +
    "one contiguous span") {
    // two different repeated 3-grams sit back to back in doc 10; their
    // [pos, pos+3) intervals touch → one maximal span, not two
    val df = Seq(
      (10L, "aa bb cc dd ee ff gg"), // "aa bb cc" at 0, "dd ee ff" at 3
      (11L, "xx aa bb cc yy"),
      (12L, "zz dd ee ff ww")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "doc_id", "text", n = 3)
      .filter($"id" === 10L).collect()
      .map(r => (r.getInt(2), r.getInt(3))).toSeq
    assert(spans === Seq((0, 6)))
  }

  test("repeatedSpans: plan-stats doc gate — small parquet frames skip the " +
    "pre-shingle exchange, RDD-backed frames take it, rows identical") {
    val dir = java.nio.file.Files.createTempDirectory("spans").toFile
    dir.deleteOnExit()
    corpus.write.mode("overwrite").parquet(s"$dir/docs")
    val small = spark.read.parquet(s"$dir/docs")
    // an RDD-backed frame (what a foreachBatch hands over) has unknown
    // stats, which estimate huge — the scale-safe side of the gate
    val rddBacked = spark.createDataFrame(corpus.rdd, corpus.schema)
    def spans(df: org.apache.spark.sql.DataFrame) =
      Dedup.repeatedSpans(df, "doc_id", "text", n = 5)
    def roundRobins(df: org.apache.spark.sql.DataFrame): Int =
      "RoundRobinPartitioning".r
        .findAllIn(spans(df).queryExecution.executedPlan.toString).length
    assert(roundRobins(small) === 0)
    assert(roundRobins(rddBacked) >= 1)
    val ref = spans(small).orderBy("id", "span_start").collect().toSeq
    assert(ref.nonEmpty)
    assert(spans(rddBacked).orderBy("id", "span_start").collect().toSeq === ref)
  }

  test("occurrence filter: sort-free hash shape is row-identical to the " +
    "count-over-window twin, real corpus included") {
    import org.apache.spark.sql.functions.{col, posexplode, lit, xxhash64}
    def shingled(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").cast("long").as("id"),
          posexplode(
            org.apache.spark.sql.functions.udf(Dedup.posShingles _)
              .apply(col("text"), lit(10))).as(Seq("pos", "sh_text")))
        .select(col("id"), col("pos"), xxhash64(col("sh_text")).as("shingle"))
    for (df <- Seq(corpus,
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))) {
      val sh = shingled(df)
      val hash = Dedup.coveredPositionsHash(sh, minOcc = 2, parts = 7)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val window = Dedup.coveredPositionsWindow(sh, minOcc = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(hash == window,
        s"filter shapes diverge: only-hash=${hash.diff(window).take(5)} " +
          s"only-window=${window.diff(hash).take(5)}")
    }
  }

  test("occurrence filter: (id,pos) packing guard raises loudly outside " +
    "range instead of silently corrupting spans") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // id at the 2^43 boundary and pos at the 2^20 boundary must both fail
    val badId = Seq((1L << 43, 0, 7L)).toDF("id", "pos", "shingle")
      .select(col("id"), col("pos"), col("shingle"))
    val badPos = Seq((1L, 1 << 20, 7L)).toDF("id", "pos", "shingle")
    for (bad <- Seq(badId, badPos)) {
      val e = intercept[Exception] {
        Dedup.coveredPositionsHash(bad, minOcc = 2, parts = 2).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("packing range")),
        s"expected the loud packing-range error, got: $e")
    }
    // …and the boundary-minus-one packs fine, round-tripping exactly
    val edge = Seq(((1L << 43) - 1, (1 << 20) - 1, 7L), (0L, 0, 7L))
      .toDF("id", "pos", "shingle")
    val got = Dedup.coveredPositionsHash(edge, minOcc = 2, parts = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // shared shingle occurs twice → both rows emit, round-tripped exactly
    assert(got === Set(((1L << 43) - 1, (1 << 20) - 1), (0L, 0)))
  }

  test("stripRepeatedSpans: compiled kernel == interpreted Column twin " +
    "(finding 21 at token granularity), real corpus included") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
    for ((df, n) <- Seq(
        (corpus, 5),
        (spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), 10))) {
      assert(rows(Dedup.stripRepeatedSpans(df, "doc_id", "text", n = n)) ===
        rows(Dedup.stripRepeatedSpansHof(df, "doc_id", "text", n = n)))
    }
  }

  test("stripRepeatedSpans: kept tokens, counts, and md5 are hand-exact") {
    val out = Dedup.stripRepeatedSpans(corpus, "doc_id", "text", n = 5)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out.toSeq === Seq(
      (1L, 18L, 6L, md5("one two three four five six")),
      (2L, 15L, 3L, md5("seven eight nine")),
      (3L, 18L, 6L, md5("mike november oscar whiskey xray yankee")),
      (4L, 8L, 8L,
        md5("zulu gamma epsilon theta iota lambda omicron upsilon"))))
  }

  test("stripRepeatedSpans: a fully-duplicated doc strips to the empty " +
    "stream, not a missing row") {
    val df = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"))
      .toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(df, "doc_id", "text", n = 5)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(out === Seq((1L, 5L, 0L, emptyMd5), (2L, 5L, 0L, emptyMd5)))
  }

  test("posShingleHashes == xxhash64 of every posShingles string " +
    "(property, incl. unicode + real corpus sample)") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def legacy(t: String, n: Int): Array[Long] =
      Dedup.posShingles(t, n).map(s =>
        XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L))
        .toArray
    val rnd = new scala.util.Random(20260815L)
    val alphabets = Seq("abc d  e", "a😀é üİK x1 ,.", "words and 42 numbers!")
    val texts = Seq(null, "", "   ", "one two") ++ (1 to 5000).map { _ =>
      val a = alphabets(rnd.nextInt(alphabets.length))
      new String(Array.fill(rnd.nextInt(150))(a.charAt(rnd.nextInt(a.length))))
    } ++ corpus.select("text").limit(300).collect().map(_.getString(0))
    for (t <- texts; n <- Seq(2, 10)) {
      assert(java.util.Arrays.equals(Dedup.posShingleHashes(t, n), legacy(t, n)),
        s"mismatch n=$n on [${if (t == null) "null" else t.take(60)}]")
    }
  }

  test("posShingles: no whole-text collapse below n tokens") {
    assert(Dedup.posShingles("one two three", 5) === Seq.empty)
    assert(Dedup.posShingles("one two three", 3) === Seq("one two three"))
    assert(Dedup.posShingles(null, 3) === Seq.empty)
  }
}
