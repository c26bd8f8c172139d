package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X202 — EXACT set-similarity self-join with prefix filtering (the
  * AllPairs/PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008
  * shape): find every doc pair whose shingle-set Jaccard ≥ t,
  * exactly — the ground-truth join the probabilistic families (X1
  * MinHash bands, X188 winnowing) approximate and are EVALUATED
  * against (X177 pairSetEval needs truth pairs from somewhere; this
  * is the somewhere that doesn't cost n²).
  *
  * Prefix principle: order each doc's shingles by ascending global
  * document frequency (rarest first, ties by shingle); two sets with
  * Jaccard ≥ t MUST share a token among each one's first
  * len − ⌈t·len⌉ + 1 — so only pairs sharing a PREFIX token are
  * candidates, and candidate mass is Σ over rare tokens of
  * prefix-df², not n². Verification is the exact intersection count
  * with the integer-only threshold test
  * (tNum+tDen)·inter ≥ tNum·(la+lb) ⇔ inter/(la+lb−inter) ≥
  * tNum/tDen — no double compare decides membership.
  */
object SetJoin {

  /** Pairs (d1, d2, inter, union, jaccard) with Jaccard ≥
    * tNum/tDen over distinct k-shingle sets of `textCol`.
    */
  def jaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, tNum: Long = 1L, tDen: Long = 2L): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"bad threshold $tNum/$tDen")
    // each consumer re-runs the shingle scan: a narrow codegen
    // `token_ngrams` pass costs less than caching its output
    val sets = docs.select(col(idCol),
      array_distinct(Dedup.shingleRun(col(textCol), shingleK)).as("__set"))
    // explode_outer + isNotNull, not explode: Spark infers
    // `size(__set) > 0` from an inner explode of an attribute and
    // pushes it below the projection, evaluating the kernel twice
    val sh = sets.select(col(idCol),
        size(col("__set")).cast("long").as("__len"),
        explode_outer(col("__set")).as("g"))
      .filter(col("g").isNotNull)
    val df = sh.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    val wd = Window.partitionBy(col(idCol))
      .orderBy(col("__df"), col("g"))
    val ranked = sh.join(df, Seq("g"))
      .withColumn("__rk", row_number().over(wd).cast("long"))
      // prefix length len − ⌈t·len⌉ + 1, with the ceiling exact:
      // ⌈(tNum·len)/tDen⌉ = (tNum·len + tDen − 1) div tDen
      .filter(col("__rk") <=
        col("__len") - expr(s"($tNum * __len + $tDen - 1) div $tDen")
          + 1L)
      .select(col(idCol), col("g"), col("__len"))
    val a = ranked.select(col("g"), col(idCol).as("d1"),
      col("__len").as("__la"))
    val b = ranked.select(col("g"), col(idCol).as("d2"),
      col("__len").as("__lb"))
    val cands = a.join(b, Seq("g"))
      .filter(col("d1") < col("d2"))
      // r16 — AllPairs length filter (Bayardo et al.): inter ≤
      // min(la, lb), so the final inter·(tNum+tDen) ≥ tNum·(la+lb)
      // gate is unreachable unless tDen·la ≥ tNum·lb AND tDen·lb ≥
      // tNum·la; pruning those pairs here (before the distinct and
      // the two set-fetch joins + array_intersect) cannot change the
      // output, only skip verification work that must fail
      .filter(col("__la") * tDen >= col("__lb") * tNum &&
        col("__lb") * tDen >= col("__la") * tNum)
      .select(col("d1"), col("d2"), col("__la"), col("__lb"))
      .distinct()
    // exact verification on per-doc shingle ARRAYS: one
    // array_intersect per candidate pair (O(la+lb) each) instead of
    // re-exploding candidates against the shingle table — the
    // exploded form shuffles Σ_cands la rows (~50× the pair count)
    // before it can even start counting
    val inter = cands
      .join(sets.select(col(idCol).as("d1"), col("__set").as("__s1")),
        Seq("d1"))
      .join(sets.select(col(idCol).as("d2"), col("__set").as("__s2")),
        Seq("d2"))
      .select(col("d1"), col("d2"), col("__la"), col("__lb"),
        size(array_intersect(col("__s1"), col("__s2"))).cast("long")
          .as("inter"))
    inter
      .filter(col("inter") * (tNum + tDen) >=
        lit(tNum) * (col("__la") + col("__lb")))
      .select(col("d1"), col("d2"), col("inter").cast("long").as("inter"),
        (col("__la") + col("__lb") - col("inter")).cast("long")
          .as("union_size"),
        round(col("inter").cast("double") /
          (col("__la") + col("__lb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }
}
