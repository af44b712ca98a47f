package graft.ops

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.spark.SparkTestBase

/** Engine-level semantics of the corpus-curation operators on a
  * CONTROLLED corpus (the DuckDB oracle pins them on the driver's
  * synthetic tables; this pins the behavioral contract on hand-built
  * documents where every expected value is derivable by eye). */
class CurationOpsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Write a tiny documents table (the testdata schema) to a temp dir. */
  private def corpus(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = tempDir("graft-cur").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("paragraph dedup: shared chunks drop everywhere, unique chunks " +
       "survive in original order, fully-duplicated docs go empty") {
    // chunker unit = 10 tokens. docA = [shared][uniqueA]; docB =
    // [uniqueB][shared]; docC = [shared] twice (within-doc dup counts
    // toward the corpus df, so BOTH instances drop and C empties).
    val shared = words("s", 10)
    val ua = words("a", 10)
    val ub = words("b", 10)
    val dir = corpus(Seq(
      (1L, s"$shared $ua", "en", "t", 0L),
      (2L, s"$ub $shared", "en", "t", 0L),
      (3L, s"$shared $shared", "en", "t", 0L)))
    val got = PipelineOps.qDedupParagraph(spark, dir)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1L, ua),
      (2L, 1L, 1L, ub),
      (3L, 0L, 2L, "")))
  }

  test("paragraph dedup: a short tail chunk is its own unit") {
    // 12 tokens = one 10-token chunk + a 2-token tail; the tail is
    // shared between the docs, the heads are unique
    val tail = "t0 t1"
    val dir = corpus(Seq(
      (1L, words("x", 10) + " " + tail, "en", "t", 0L),
      (2L, words("y", 10) + " " + tail, "en", "t", 0L)))
    val got = PipelineOps.qDedupParagraph(spark, dir)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1L, words("x", 10)),
      (2L, 1L, 1L, words("y", 10))))
  }

  test("repetition signals: exact fractions on constructed token streams") {
    // doc 1: "w w w w" — trigrams {w w w}×2 (1 distinct of 2 ⇒ dup 0.5),
    //        bigrams {w w}×3 ⇒ top fraction 1.0
    // doc 2: all-distinct tokens ⇒ dup 0.0; every bigram unique ⇒ 1/4
    val dir = corpus(Seq(
      (1L, "w w w w", "en", "t", 0L),
      (2L, "a b c d e", "en", "t", 0L)))
    val got = PipelineOps.qTextRepetition(spark, dir)
      .orderBy($"doc_id")
      .as[(Long, Double, Double)].collect().toSeq
    assert(got === Seq((1L, 0.5, 1.0), (2L, 0.0, 0.25)))
  }

  test("repetition signals: docs with <3 tokens are dropped, not crashed") {
    // contract: repetition is defined only for >=3 tokens. Pre-fix, a
    // 2-token doc flipped sequence(1, n-2) into a DESCENDING range
    // ([1,0]) and slice(toks, 0, 3) threw 'SQL array indices start at
    // 1'; empty text crashed too (split('',' ') = ['']). The SQL oracle
    // mirror filters the same docs, so both engines stay row-aligned.
    val dir = corpus(Seq(
      (1L, "", "en", "t", 0L),
      (2L, "one", "en", "t", 0L),
      (3L, "one two", "en", "t", 0L),
      (4L, "a b c", "en", "t", 0L)))
    val got = PipelineOps.qTextRepetition(spark, dir)
      .orderBy($"doc_id")
      .as[(Long, Double, Double)].collect().toSeq
    assert(got === Seq((4L, 0.0, 0.5)))
  }

  test("stratified sample: deterministic, per-stratum thresholded, and " +
       "monotone (tighter threshold selects a subset)") {
    val docs = (0L until 400L).map(i =>
      (i, s"doc $i", if (i % 2 == 0) "en" else "de", "t", 0L))
    val dir = corpus(docs)
    val got = PipelineOps.qSampleStratified(spark, dir)
      .as[(Long, String, String)].collect().toSeq
    val expected = docs.filter { case (id, _, lang, _, _) =>
      val thr = if (lang == "en") "28" else "80"
      lang match {
        case "en" | "de" =>
          graft.core.Hashing.md5Hex(id.toString).substring(0, 2) < thr
        case _ => false
      }
    }.map(d => (d._1, d._3, d._4)).toSet
    assert(got.toSet === expected)
    // rerun = identical sample (pure hash threshold, no RNG state)
    val again = PipelineOps.qSampleStratified(spark, dir)
      .as[(Long, String, String)].collect().toSet
    assert(again === got.toSet)
    // en threshold 0x28 is tighter than de's 0x80: every en doc kept
    // under 0x28 would also be kept under 0x80 (composability by
    // construction — asserted over the realized sample)
    val enKept = got.filter(_._2 == "en").map(_._1).toSet
    val enUnderDe = docs.filter(d => d._3 == "en" &&
      graft.core.Hashing.md5Hex(d._1.toString).substring(0, 2) < "80")
      .map(_._1).toSet
    assert(enKept.subsetOf(enUnderDe))
  }

  test("decontamination: only docs sharing a 4-gram with the eval stripe " +
       "are flagged; counts are distinct-shingle; short docs absent") {
    // eval stripe = doc_id % 10 == 0. doc 10 has shingles (e0..e3),
    // (e1..e4). doc 1 contains (e1 e2 e3 e4) once among its 4 distinct
    // shingles -> flagged 1/4. doc 2 shares nothing. doc 3 has only 3
    // tokens (< W): no shingles, absent. doc 4 repeats the contaminated
    // 4-gram twice -> still counts ONCE (distinct).
    val dir = corpus(Seq(
      (10L, "e0 e1 e2 e3 e4", "en", "t", 0L),
      (1L, "e1 e2 e3 e4 x0 x1 x2", "en", "t", 0L),
      (2L, "y0 y1 y2 y3 y4", "en", "t", 0L),
      (3L, "z0 z1 z2", "en", "t", 0L),
      (4L, "e1 e2 e3 e4 e1 e2 e3 e4", "en", "t", 0L)))
    val got = PipelineOps.qDecontaminate(spark, dir)
      .orderBy($"doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    // doc 4's distinct shingles: (e1 e2 e3 e4), (e2 e3 e4 e1),
    // (e3 e4 e1 e2), (e4 e1 e2 e3) -> 4 distinct (the wrap-around
    // shingles repeat), 1 contaminated
    assert(got === Seq((1L, 1L, 0.25), (4L, 1L, 0.25)))
  }
}
