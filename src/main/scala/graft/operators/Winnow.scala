package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** X188 — winnowing document fingerprints (the MOSS local
  * fingerprinting algorithm, Schleimer-Wilkerson-Aiken 2003 shape):
  * normalize → character k-grams → md5 hashes → per window of w
  * consecutive k-grams keep the MINIMUM hash (rightmost occurrence
  * on ties) → the deduplicated (hash, position) set is the doc's
  * fingerprint. Guarantees: any shared substring of length ≥ w+k−1
  * yields at least one shared fingerprint, and the selected density
  * is ~2/(w+1) — position-local, unlike X1's MinHash (whole-doc
  * bag) or X111's CDC cuts (content-defined but not match-
  * guaranteed).
  *
  * Determinism: hashes are 32-bit md5 prefixes (the repo-wide
  * engine-replayable idiom); the rightmost-min tie rule is folded
  * into ONE integer key h·2²⁰ + (2²⁰−1−pos), so a plain window min
  * picks it — no argmin, no engine-specific tie semantics. Positions
  * therefore cap at 2²⁰−1 chars (~1 MB of normalized text; longer
  * docs are clipped by the key guard, stated loudly here).
  *
  * Scale shape: per-doc ordered windows (partitioned by doc — never
  * global), one distinct, one grouped digest. Output per doc:
  * (n_fp, fp_md5 of the position-ordered "h:pos" list).
  */
object Winnow {

  /** Row-level fingerprint selection: (idCol, h, pos) — the form a
    * near-dup candidate generator joins on h. [[fingerprints]] folds
    * this to the per-doc digest contract.
    */
  def fingerprintRows(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 2 && k <= 64, s"bad k $k")
    require(w >= 2 && w <= 64, s"bad w $w")
    val cap = 1L << 20
    val base = docs.select(col(idCol),
        regexp_replace(lower(col(textCol)), "[^a-z0-9]", "").as("__s"))
      .select(col(idCol), col("__s"), length(col("__s")).as("__len"))
      .filter(col("__len") >= k + w - 1 && col("__len") <= cap)
    // r15: k-grams assemble from a char posexplode + (k−1) leads +
    // codegen concat over the SAME per-doc window the w-min pass
    // already needs (one shuffle+sort serves both). The r14 layout
    // exploded positions with the FULL normalized string carried on
    // every row and took substring(__s, p+1, k) per position — an
    // O(p) UTF8String walk per call, O(len²) per doc, and a len×|doc|
    // duplication of the string through the generator (the same
    // pathology measured at 16 s in the chrF rework; guide §1.2
    // per-task work, §2.3 project before the exchange). Gram bytes,
    // md5, the rightmost-min key and the selection are unchanged —
    // identical fingerprints.
    val chars = base.select(col(idCol), col("__len"),
      posexplode(split(col("__s"), "")).as(Seq("p", "c0")))
    val wd0 = Window.partitionBy(col(idCol)).orderBy(col("p"))
    val withNext = (1 until k).foldLeft(chars) { (df, i) =>
      df.withColumn(s"c$i", lead(col("c0"), i).over(wd0))
    }
    val kg = withNext
      .filter(col(s"c${k - 1}").isNotNull)
      .select(col(idCol), col("__len"), col("p"),
        conv(substring(md5(concat((0 until k).map(i => col(s"c$i")): _*)),
          1, 8), 16, 10).cast("long").as("h"))
    val keyed = kg.withColumn("kk",
      col("h") * cap + (lit(cap - 1) - col("p")))
    val wdw = Window.partitionBy(col(idCol)).orderBy(col("p"))
      .rowsBetween(Window.currentRow, w - 1)
    keyed
      .withColumn("__wmin", min(col("kk")).over(wdw))
      .filter(col("p") <= col("__len") - k - (w - 1))
      .select(col(idCol), col("__wmin")).distinct()
      .select(col(idCol),
        expr(s"__wmin div ${cap}L").as("h"),
        (lit(cap - 1) - pmod(col("__wmin"), lit(cap))).as("pos"))
  }

  /** X199 — near-dup candidate pairs from shared fingerprints: the
    * h-equijoin over [[fingerprintRows]] (position-dropped, doc-
    * distinct), with two scale valves: hashes in more than `maxDf`
    * docs are dropped BEFORE the join (stop-fingerprints — template
    * boilerplate shared by hundreds of docs would contribute df²
    * pairs each and find nothing but the template), and pairs below
    * `minShared` shared fingerprints are cut after it. Join mass is
    * then bounded by Σ_h df(h)² over kept hashes ≤ maxDf·Σdf —
    * linear in corpus size at fixed maxDf.
    */
  def matches(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, maxDf: Int = 20, minShared: Int = 3)
      : DataFrame = {
    require(maxDf >= 2, s"bad maxDf $maxDf")
    require(minShared >= 1, s"bad minShared $minShared")
    // the fingerprint table feeds the df valve AND both join sides —
    // materialize once instead of re-running the k-gram window scan
    val fp = Materialize.share(fingerprintRows(docs, idCol, textCol, k, w)
      .select(col(idCol), col("h")).distinct())
    val df = fp.groupBy(col("h")).agg(count(lit(1)).as("__m"))
      .filter(col("__m") <= maxDf)
    val keep = fp.join(df.select(col("h")), Seq("h"))
    val a = keep.select(col("h"), col(idCol).as("d1"))
    val b = keep.select(col("h"), col(idCol).as("d2"))
    a.join(b, Seq("h"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** X215 — span anchors + diagonal vote for matched pairs: for
    * every [[matches]] candidate pair, the shared fingerprints as
    * (pos1, pos2) anchors and the DOMINANT DIAGONAL pos2 − pos1 —
    * anchors of a genuinely shared span agree on one offset, while
    * coincidental hash matches scatter, so the diagonal's vote share
    * separates "contains a copied run at offset d" from noise, and
    * (min,max) over the winning diagonal's anchors bound the span —
    * the locate step after X188 detects and X199 pairs.
    *
    * Output per pair: (d1, d2, n_anchors, diag, diag_votes,
    * span1_lo, span1_hi) with diag ties broken to the smallest
    * offset. Scale shape: anchors ∝ the X199 join mass (same
    * valves); the vote is a per-pair grouped argmax.
    */
  def spanAnchors(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, maxDf: Int = 20, minShared: Int = 3)
      : DataFrame = {
    val fp = Materialize.share(fingerprintRows(docs, idCol, textCol, k, w))
    val keyed = fp.select(col(idCol), col("h")).distinct()
    val hdf = keyed.groupBy(col("h")).agg(count(lit(1)).as("__m"))
      .filter(col("__m") <= maxDf).select(col("h"))
    val keep = fp.join(hdf, Seq("h"))
    val a = keep.select(col("h"), col(idCol).as("d1"),
      col("pos").as("p1"))
    val b = keep.select(col("h"), col(idCol).as("d2"),
      col("pos").as("p2"))
    val anchors = a.join(b, Seq("h")).filter(col("d1") < col("d2"))
    val diags = anchors
      .groupBy(col("d1"), col("d2"), (col("p2") - col("p1")).as("diag"))
      .agg(count(lit(1)).as("diag_votes"),
        min(col("p1")).as("span1_lo"), max(col("p1")).as("span1_hi"))
    // r16: every anchor lies on exactly one diagonal, so the pair
    // total is Σ diag_votes — the totals aggregate cascades off the
    // SAME diags pass instead of re-building the h-equijoin a second
    // time (the unpersisted `anchors` subtree executed twice: once
    // under diags, once under totals), and the final totals ⋈ picked
    // join disappears with it (guide §2.4).
    // lexicographic struct max = most votes, then smallest offset —
    // one grouped pass, no argmax join
    diags.groupBy(col("d1"), col("d2"))
      .agg(sum(col("diag_votes")).as("n_anchors"),
        max(struct(col("diag_votes"),
          (-col("diag")).as("__negd"), col("diag"),
          col("span1_lo"), col("span1_hi"))).as("__b"))
      .filter(col("n_anchors") >= minShared)
      .select(col("d1"), col("d2"),
        col("n_anchors").cast("long").as("n_anchors"),
        col("__b.diag").cast("long").as("diag"),
        col("__b.diag_votes").cast("long").as("diag_votes"),
        col("__b.span1_lo").cast("long").as("span1_lo"),
        col("__b.span1_hi").cast("long").as("span1_hi"))
  }

  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame =
    fingerprintRows(docs, idCol, textCol, k, w)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fp"),
        md5(concat_ws(",", transform(
          sort_array(collect_list(struct(col("pos").as("p"),
            concat_ws(":", col("h"), col("pos")).as("s")))),
          x => x.getField("s")))).as("fp_md5"))
}
