package graft.queries

import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.Similarity
import graft.queries.QueryDef.table

/** Similarity-search contract queries (north star X2) over the
  * `embeddings` table (64-dim float vectors).
  */
object SimilarityQueries {

  val K = 5
  /** Every 25th vector is a query point — a small, broadcastable
    * query side, the shape this operator is designed for.
    */
  val QueryStride = 25

  /** q_knn_lsh oracle, generated: the 24×4 hyperplanes are pinned as
    * 64-double SQL list literals (identical constants to the engine
    * plan — Scala's shortest-roundtrip `Double.toString` re-parses to
    * the same bit pattern in DuckDB), each table's bucket is the
    * packed sign of 4 sequential-fold projections, candidates come
    * from the same (table, bucket) equi-join, and the exact-cosine
    * re-rank replays q_knn_brute's oracle shape.
    */
  private val LshTables = 24
  private val LshPlanes = 4

  private def sqdSql(q: String, c: String) =
    s"list_dot_product($q, $q) - 2*list_dot_product($q, $c) " +
      s"+ list_dot_product($c, $c)"
  private def keySql(q: String, c: String) =
    s"list_dot_product($c, $c) - 2*list_dot_product($q, $c)"

  /** The shared fit-sample CTEs (`quant`, `fit`) — the md5-ordered
    * quantized sample both the coarse quantizer and the PQ codebooks
    * train on.
    */
  def duckFitCtes(salt: String = "kmfit:42:",
      maxFitSample: Int = 10000): String =
    s"""quant AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000.0) AS BIGINT)) AS q,
             md5('$salt' || CAST(vec_id AS VARCHAR)) AS h
      FROM embeddings
    ), fit AS MATERIALIZED (
      SELECT vec_id, h, q FROM quant
      ORDER BY h, CAST(vec_id AS VARCHAR) LIMIT $maxFitSample
    )"""

  /** PQ codebook chain over `fit`/`quant` (requires [[duckFitCtes]]):
    * per-subspace farthest-first seeding + `iters` integer Lloyd
    * rounds, all subspaces in one relational chain keyed by `j`.
    * Emits `allsq` (per-(vector, subspace) quantized slices over the
    * WHOLE corpus), `pcent<iters>` (j, cid, codeword) and `codes`
    * (vec_id, j, code).
    */
  def duckPqCtes(m: Int, sub: Int, ksub: Int, iters: Int): String = {
    require(ksub >= 2 && iters >= 1)
    val seeds = (2 to ksub).map { i =>
      s"""pch$i AS MATERIALIZED (
        SELECT * FROM pch${i - 1}
        UNION ALL
        SELECT j, ${i - 1} AS cid, vec_id, p FROM (
          SELECT mm.j, mm.vec_id, f2.p,
                 row_number() OVER (PARTITION BY mm.j
                   ORDER BY mm.mind DESC, mm.h, CAST(mm.vec_id AS VARCHAR))
                   AS rn
          FROM (
            SELECT f.j, f.vec_id, f.h, min(${sqdSql("f.p", "c.p")}) AS mind
            FROM sq f JOIN pch${i - 1} c ON c.j = f.j
            GROUP BY f.j, f.vec_id, f.h
          ) mm JOIN sq f2 ON f2.j = mm.j AND f2.vec_id = mm.vec_id
        ) WHERE rn = 1
      )"""
    }.mkString(", ")
    val rounds = (1 to iters).map { i =>
      s"""pasg$i AS MATERIALIZED (
        SELECT j, vec_id, p, cid FROM (
          SELECT s.j, s.vec_id, s.p, c.cid,
                 row_number() OVER (PARTITION BY s.j, s.vec_id ORDER BY
                   ${keySql("s.p", "c.c")}, c.cid) AS rk
          FROM sq s JOIN pcent${i - 1} c ON c.j = s.j
        ) WHERE rk = 1
      ), pupd$i AS MATERIALIZED (
        SELECT j, cid, dim, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        FROM (SELECT j, cid, generate_subscripts(p, 1) AS dim,
                     unnest(p) AS x
              FROM pasg$i)
        GROUP BY j, cid, dim
      ), pcent$i AS MATERIALIZED (
        SELECT p0.j, p0.cid, coalesce(u.c, p0.c) AS c
        FROM pcent${i - 1} p0 LEFT JOIN (
          SELECT j, cid, list(sx // n ORDER BY dim) AS c
          FROM pupd$i GROUP BY j, cid
        ) u USING (j, cid)
      )"""
    }.mkString(", ")
    s"""js AS (SELECT unnest(range(0, $m)) AS j),
    sq AS MATERIALIZED (
      SELECT f.vec_id, f.h, js.j,
             list_slice(f.q, js.j * $sub + 1, js.j * $sub + $sub) AS p
      FROM fit f CROSS JOIN js
    ), pch1 AS MATERIALIZED (
      SELECT j, 0 AS cid, vec_id, p FROM (
        SELECT j, vec_id, p,
               row_number() OVER (PARTITION BY j
                 ORDER BY h, CAST(vec_id AS VARCHAR)) AS rn
        FROM sq
      ) WHERE rn = 1
    ), $seeds, pcent0 AS MATERIALIZED (
      SELECT j, cid, p AS c FROM pch$ksub
    ), $rounds, allsq AS MATERIALIZED (
      SELECT t.vec_id, js.j,
             list_slice(t.q, js.j * $sub + 1, js.j * $sub + $sub) AS p
      FROM quant t CROSS JOIN js
    ), codes AS MATERIALIZED (
      SELECT vec_id, j, cid AS code FROM (
        SELECT s.vec_id, s.j, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                 ${keySql("s.p", "c.c")}, c.cid) AS rk
        FROM allsq s JOIN pcent$iters c ON c.j = s.j
      ) WHERE rk = 1
    )"""
  }

  /** DuckDB CTE chain replaying [[Similarity.fitCentersL]] + the
    * final whole-corpus argmin assignment over the `embeddings`
    * table — the integer-KMeans oracle kernel shared by q_knn_ivf,
    * q_ann_index and q_semdedup_auto. Emits CTEs `quant` (vec_id, q
    * micro-quantized, h = md5 fit hash), `fit` (the hash-ordered fit
    * sample), `ch1..chK` (farthest-first seeding), `cent0..centN`
    * (Lloyd rounds — assignment by the exact ‖c‖²−2·q·c key with
    * ties to the lowest cid, update by truncated integer division,
    * empty clusters keep their center), and `afin` (vec_id → cid).
    * All quantities are integers below 2⁵³, so DuckDB's double
    * `list_dot_product` reproduces the engine's Long arithmetic
    * bit-exactly. Every CTE is MATERIALIZED: DuckDB inlines plain
    * CTEs, and the seeding chain references its predecessor twice —
    * exponential expansion (and a file-handle blowup) without it.
    */
  def duckKmeansCtes(k: Int, iters: Int, salt: String = "kmfit:42:",
      maxFitSample: Int = 10000): String =
    duckFitCtes(salt, maxFitSample) + ", " + duckCoarseCtes(k, iters)

  /** Coarse-quantizer chain over `fit`/`quant` (requires
    * [[duckFitCtes]]): farthest-first seeding, `iters` Lloyd rounds,
    * `afin` = whole-corpus assignment.
    */
  def duckCoarseCtes(k: Int, iters: Int): String = {
    require(k >= 2 && iters >= 1)
    val seeds = (2 to k).map { i =>
      s"""ch$i AS MATERIALIZED (
        SELECT * FROM ch${i - 1}
        UNION ALL
        SELECT * FROM (
          SELECT ${i - 1} AS cid, mm.vec_id, f2.q
          FROM (
            SELECT f.vec_id, f.h, min(${sqdSql("f.q", "c.q")}) AS mind
            FROM fit f CROSS JOIN ch${i - 1} c
            GROUP BY f.vec_id, f.h
          ) mm JOIN fit f2 ON f2.vec_id = mm.vec_id
          ORDER BY mm.mind DESC, mm.h, CAST(mm.vec_id AS VARCHAR)
          LIMIT 1
        )
      )"""
    }.mkString(", ")
    val rounds = (1 to iters).map { i =>
      s"""asg$i AS MATERIALIZED (
        SELECT vec_id, q, cid FROM (
          SELECT f.vec_id, f.q, c.cid,
                 row_number() OVER (PARTITION BY f.vec_id ORDER BY
                   ${keySql("f.q", "c.c")}, c.cid) AS rk
          FROM fit f CROSS JOIN cent${i - 1} c
        ) WHERE rk = 1
      ), upd$i AS MATERIALIZED (
        SELECT cid, dim, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
        FROM (SELECT cid, generate_subscripts(q, 1) AS dim, unnest(q) AS x
              FROM asg$i)
        GROUP BY cid, dim
      ), cent$i AS MATERIALIZED (
        SELECT p.cid, coalesce(u.c, p.c) AS c
        FROM cent${i - 1} p LEFT JOIN (
          SELECT cid, list(sx // n ORDER BY dim) AS c
          FROM upd$i GROUP BY cid
        ) u USING (cid)
      )"""
    }.mkString(", ")
    s"""ch1 AS MATERIALIZED (
      SELECT 0 AS cid, vec_id, q FROM fit
      ORDER BY h, CAST(vec_id AS VARCHAR) LIMIT 1
    ), $seeds, cent0 AS MATERIALIZED (
      SELECT cid, q AS c FROM ch$k
    ), $rounds, afin AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT t.vec_id, c.cid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 ${keySql("t.q", "c.c")}, c.cid) AS rk
        FROM quant t CROSS JOIN cent$iters c
      ) WHERE rk = 1
    )"""
  }

  /** q_knn_ivf / q_ann_index oracle: the integer-KMeans chain, nprobe
    * probed lists per query, exact-cosine re-rank (the q_knn_brute
    * shape). q_ann_index's parquet round trip stores exact doubles
    * and quantized-long centroids, so build+serve returns the
    * IDENTICAL rows — one oracle text serves both.
    */
  private def knnIvfSql: String =
    s"""
      WITH ${duckKmeansCtes(k = 16, iters = 5)},
      v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      probes AS (
        SELECT query_id, cid FROM (
          SELECT t.vec_id AS query_id, c.cid,
                 row_number() OVER (PARTITION BY t.vec_id ORDER BY
                   list_dot_product(c.c, c.c) - 2*list_dot_product(t.q, c.c),
                   c.cid) AS rk
          FROM quant t CROSS JOIN cent5 c
          WHERE t.vec_id % $QueryStride = 0
        ) WHERE rk <= 4
      ),
      cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN afin a USING (cid)
        WHERE a.vec_id <> p.query_id
      ),
      scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               list_dot_product(qv.e, cv.e) /
               (sqrt(list_dot_product(qv.e, qv.e)) *
                sqrt(list_dot_product(cv.e, cv.e))) AS cos
        FROM cand
        JOIN v qv ON qv.vec_id = cand.query_id
        JOIN v cv ON cv.vec_id = cand.neighbor_id
      )
      SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
      FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
      )
      WHERE rank <= $K
      ORDER BY query_id, rank
    """.trim
  /** q_knn_pq oracle: the per-subspace integer codebooks, ADC
    * shortlist (integer lut sums over identical doubles), exact
    * cosine re-rank — the engine's pqTopK replayed end to end.
    */
  private def knnPqSql: String = {
    val (m, sub, ksub, iters, refine) = (16, 4, 16, 8, 8)
    s"""
      WITH ${duckFitCtes(maxFitSample = 16384)},
      ${duckPqCtes(m, sub, ksub, iters)},
      v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ),
      nrm AS MATERIALIZED (
        SELECT vec_id, sqrt(list_dot_product(e, e)) AS nrm FROM v
      ),
      qlut AS MATERIALIZED (
        SELECT s.vec_id AS query_id, s.j, c.cid,
               list_dot_product(s.p, c.c) AS val
        FROM allsq s JOIN pcent$iters c ON c.j = s.j
        WHERE s.vec_id % $QueryStride = 0
      ),
      adc AS (
        SELECT l.query_id, cd.vec_id AS neighbor_id, sum(l.val) AS s
        FROM qlut l JOIN codes cd ON cd.j = l.j AND cd.code = l.cid
        WHERE cd.vec_id <> l.query_id
        GROUP BY 1, 2
      ),
      sl AS (
        SELECT query_id, neighbor_id FROM (
          SELECT a.query_id, a.neighbor_id,
                 row_number() OVER (PARTITION BY a.query_id
                   ORDER BY (CAST(a.s AS DOUBLE) / (qn.nrm * cn.nrm)) DESC,
                            a.neighbor_id) AS rk
          FROM adc a
          JOIN nrm qn ON qn.vec_id = a.query_id
          JOIN nrm cn ON cn.vec_id = a.neighbor_id
        ) WHERE rk <= ${K * refine}
      ),
      scored AS (
        SELECT sl.query_id, sl.neighbor_id,
               list_dot_product(qv.e, cv.e) /
               (sqrt(list_dot_product(qv.e, qv.e)) *
                sqrt(list_dot_product(cv.e, cv.e))) AS cos
        FROM sl
        JOIN v qv ON qv.vec_id = sl.query_id
        JOIN v cv ON cv.vec_id = sl.neighbor_id
      )
      SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
      FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
      )
      WHERE rank <= $K
      ORDER BY query_id, rank
    """.trim
  }

  /** q_knn_ivfpq oracle: coarse probes restrict the ADC scan to
    * nprobe lists per query; otherwise the q_knn_pq chain.
    */
  private def knnIvfPqSql: String = {
    val (nlist, nprobe, m, sub, ksub, iters, refine) =
      (8, 4, 16, 4, 16, 8, 8)
    s"""
      WITH ${duckFitCtes(maxFitSample = 16384)},
      ${duckCoarseCtes(nlist, iters)},
      ${duckPqCtes(m, sub, ksub, iters)},
      v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ),
      nrm AS MATERIALIZED (
        SELECT vec_id, sqrt(list_dot_product(e, e)) AS nrm FROM v
      ),
      probes AS (
        SELECT query_id, cid FROM (
          SELECT t.vec_id AS query_id, c.cid,
                 row_number() OVER (PARTITION BY t.vec_id ORDER BY
                   ${keySql("t.q", "c.c")}, c.cid) AS rk
          FROM quant t CROSS JOIN cent$iters c
          WHERE t.vec_id % $QueryStride = 0
        ) WHERE rk <= $nprobe
      ),
      cand0 AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN afin a USING (cid)
        WHERE a.vec_id <> p.query_id
      ),
      qlut AS MATERIALIZED (
        SELECT s.vec_id AS query_id, s.j, c.cid,
               list_dot_product(s.p, c.c) AS val
        FROM allsq s JOIN pcent$iters c ON c.j = s.j
        WHERE s.vec_id % $QueryStride = 0
      ),
      adc AS (
        SELECT c0.query_id, c0.neighbor_id, sum(l.val) AS s
        FROM cand0 c0
        JOIN codes cd ON cd.vec_id = c0.neighbor_id
        JOIN qlut l ON l.query_id = c0.query_id AND l.j = cd.j
                   AND l.cid = cd.code
        GROUP BY 1, 2
      ),
      sl AS (
        SELECT query_id, neighbor_id FROM (
          SELECT a.query_id, a.neighbor_id,
                 row_number() OVER (PARTITION BY a.query_id
                   ORDER BY (CAST(a.s AS DOUBLE) / (qn.nrm * cn.nrm)) DESC,
                            a.neighbor_id) AS rk
          FROM adc a
          JOIN nrm qn ON qn.vec_id = a.query_id
          JOIN nrm cn ON cn.vec_id = a.neighbor_id
        ) WHERE rk <= ${K * refine}
      ),
      scored AS (
        SELECT sl.query_id, sl.neighbor_id,
               list_dot_product(qv.e, cv.e) /
               (sqrt(list_dot_product(qv.e, qv.e)) *
                sqrt(list_dot_product(cv.e, cv.e))) AS cos
        FROM sl
        JOIN v qv ON qv.vec_id = sl.query_id
        JOIN v cv ON cv.vec_id = sl.neighbor_id
      )
      SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
      FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
      )
      WHERE rank <= $K
      ORDER BY query_id, rank
    """.trim
  }

  private def knnLshSql: String = {
    val buckets = (0 until LshTables).map { t =>
      (0 until LshPlanes).map { p =>
        val plane = Similarity.lshPlane(t, p, 64).mkString(", ")
        s"(CASE WHEN list_dot_product(e, [$plane]) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
    }.mkString(",\n            ")
    s"""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), b AS (
        SELECT vec_id,
          [$buckets] AS bs
        FROM v
      ), bt AS (
        SELECT vec_id, generate_subscripts(bs, 1) AS t,
               unnest(bs) AS bucket
        FROM b
      ), cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM bt q JOIN bt c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id % $QueryStride = 0 AND q.vec_id <> c.vec_id
      ), scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               list_dot_product(qv.e, cv.e) /
               (sqrt(list_dot_product(qv.e, qv.e)) *
                sqrt(list_dot_product(cv.e, cv.e))) AS cos
        FROM cand
        JOIN v qv ON qv.vec_id = cand.query_id
        JOIN v cv ON cv.vec_id = cand.neighbor_id
      )
      SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
      FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
      )
      WHERE rank <= $K
      ORDER BY query_id, rank
    """.trim
  }

  val defs: Seq[QueryDef] = Seq(

    // X2a: exact brute-force top-k cosine — the correctness baseline.
    // Broadcast(queries) ⋈ corpus: the corpus never shuffles, so the
    // plan scales to an arbitrarily large corpus side.
    QueryDef(
      "q_knn_brute",
      Some(s"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings
        ), q AS (SELECT * FROM v WHERE vec_id % $QueryStride = 0),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_dot_product(q.e, c.e) /
                 (sqrt(list_dot_product(q.e, q.e)) *
                  sqrt(list_dot_product(c.e, c.e))) AS cos
          FROM q JOIN v c ON q.vec_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
        FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored
        )
        WHERE rank <= $K
        ORDER BY query_id, rank
      """.trim),
      "X2 brute-force top-k cosine neighbors")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        val queries = emb.filter($"vec_id" % QueryStride === 0)
        Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", K)
          .select($"query_id", $"neighbor_id", $"rank",
            round($"cos", 6).as("cos"))
          .orderBy($"query_id", $"rank")
      }),

    // X31: hybrid retrieval — RRF fusion of the lexical (bigram
    // tf-cosine index, X26 shape) and vector (exact cosine, X2a
    // shape) top-20 lists for probe item 0, on the shared
    // doc_id==vec_id id space of the fixture. Integer ranks make the
    // fused scores exact rationals; the two-list sum is
    // order-insensitive, so the whole fusion hash-matches.
    QueryDef(
      "q_hybrid_search",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), tc AS (
          SELECT doc_id, ts[i] || ' ' || ts[i+1] AS term, count(*) AS tf
          FROM toks, unnest(range(1, len(ts))) AS r(i)
          GROUP BY 1, 2
        ), kept AS (
          SELECT tc.* FROM tc
          JOIN (SELECT term FROM tc GROUP BY term HAVING count(*) <= 100)
            USING (term)
        ), norms AS (
          SELECT doc_id, sum(tf*tf) AS n2 FROM kept GROUP BY doc_id
        ), probe AS (
          SELECT term, tf AS qtf FROM kept WHERE doc_id = 0
        ), dots AS (
          SELECT kept.doc_id, sum(kept.tf * probe.qtf) AS dot
          FROM kept JOIN probe USING (term)
          WHERE kept.doc_id <> 0
          GROUP BY kept.doc_id
        ), lex AS (
          SELECT doc_id AS id,
                 row_number() OVER (ORDER BY cosv DESC, doc_id) AS rank
          FROM (
            SELECT d.doc_id,
                   d.dot / (sqrt(n.n2) *
                     (SELECT sqrt(n2) FROM norms WHERE doc_id = 0)) AS cosv
            FROM dots d JOIN norms n ON d.doc_id = n.doc_id
          ) QUALIFY rank <= 20
        ), v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), vec AS (
          SELECT neighbor_id AS id,
                 row_number() OVER (ORDER BY cosv DESC, neighbor_id) AS rank
          FROM (
            SELECT c.vec_id AS neighbor_id,
                   list_dot_product(q.e, c.e) /
                   (sqrt(list_dot_product(q.e, q.e)) *
                    sqrt(list_dot_product(c.e, c.e))) AS cosv
            FROM (SELECT * FROM v WHERE vec_id = 0) q
            JOIN v c ON c.vec_id <> 0
          ) QUALIFY rank <= 20
        ), contrib AS (
          SELECT id, 1.0 / (60 + rank) AS c FROM lex
          UNION ALL
          SELECT id, 1.0 / (60 + rank) AS c FROM vec
        ), fused AS (
          SELECT id, sum(c) AS rrf_score FROM contrib GROUP BY id
        )
        SELECT id, CAST(rank AS BIGINT) AS rank,
               round(rrf_score, 9) AS rrf_score
        FROM (
          SELECT id, rrf_score,
                 row_number() OVER (ORDER BY rrf_score DESC, id) AS rank
          FROM fused
        )
        WHERE rank <= 10
        ORDER BY rank
      """.trim),
      "X31 hybrid lexical+vector retrieval via reciprocal-rank fusion")(
      (spark, dir) => {
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.operators.{HybridSearch, InvertedIndex}
        // same analyzed plan as the CorpusStats bigram subtree, so the
        // CacheManager shares the cache entry when suites run together
        val tc = Materialize.share(InvertedIndex.termCounts(
          table(spark, dir, "documents"), "doc_id", "text", n = 2))
        val lex = InvertedIndex.searchSimilar(tc, "doc_id", probeId = 0L,
            k = 20, dfCap = 100)
          .withColumn("rank",
            row_number().over(Window.orderBy($"cos".desc, $"doc_id")))
          .select($"doc_id".as("id"), $"rank")
        val emb = table(spark, dir, "embeddings")
        val vec = Similarity.bruteForceTopK(emb.filter($"vec_id" === 0),
            emb, "vec_id", "embedding", k = 20)
          .select($"neighbor_id".as("id"), $"rank")
        HybridSearch.rrf(Seq(lex, vec), "id", k = 10)
          .select($"id", $"rank".cast("long").as("rank"),
            round($"rrf_score", 9).as("rrf_score"))
          .orderBy($"rank")
      }),

    // X2b: sign-LSH bucketed ANN — the scale path. Candidates come
    // from an equi-join on (table_id, bucket); exact cosine re-ranks
    // candidates only. Full hash oracle (r13): the hyperplanes are
    // PLAN-TIME CONSTANTS, so the oracle pins the identical doubles
    // as SQL list literals (the pHash pinned-basis convention) and
    // replays projection → sign bits → bucket equi-join → exact
    // cosine re-rank; `vec_dot` and DuckDB's `list_dot_product` are
    // the same sequential fold, so every sign bit — and hence the
    // candidate set and ranking — reproduces bit-exactly. Recall vs
    // q_knn_brute additionally asserted in SimilaritySpec.
    QueryDef(
      "q_knn_lsh",
      Some(knnLshSql),
      "X2 LSH-bucketed approximate top-k cosine neighbors")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        val queries = emb.filter($"vec_id" % QueryStride === 0)
        Similarity.lshTopK(queries, emb, "vec_id", "embedding", K,
            tables = 24, planes = 4)
          .select($"query_id", $"neighbor_id", $"rank",
            round($"cos", 6).as("cos"))
          .orderBy($"query_id", $"rank")
      }),

    // X2c: IVF ANN — KMeans-bucketed inverted file, nprobe=4 of 16
    // lists probed per query, exact cosine re-rank. Full hash oracle
    // (r13): the coarse quantizer is the INTEGER-state Lloyd fit
    // (Similarity.fitCentersL — md5-ordered sample, farthest-first
    // seeding, exact ‖c‖²−2·q·c assignment, truncated-integer-mean
    // update), so the oracle replays the whole fit as an unrolled
    // CTE chain and the probe/re-rank as the q_knn_brute shape.
    // SimilaritySpec additionally bounds recall vs the brute twin.
    QueryDef(
      "q_knn_ivf",
      Some(knnIvfSql),
      "X2 IVF (KMeans inverted-file) approximate top-k cosine")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        val queries = emb.filter($"vec_id" % QueryStride === 0)
        Similarity.ivfTopK(queries, emb, "vec_id", "embedding", K,
            nlist = 16, nprobe = 4)
          .select($"query_id", $"neighbor_id", $"rank",
            round($"cos", 6).as("cos"))
          .orderBy($"query_id", $"rank")
      }),

    // X2e: product-quantized ANN — the compressed-corpus scale path
    // (codes + norm instead of full vectors; ADC lookup scoring;
    // exact re-rank of the shortlist). Full hash oracle (r13): the
    // per-subspace codebooks are the integer-state Lloyd fit on the
    // shared md5-ordered sample, lut values are exact integer
    // sub-space dots, and the ADC ordering divides identical longs
    // by identical double norms — the oracle replays fit, codes,
    // shortlist and exact re-rank end to end. SimilaritySpec
    // additionally bounds recall vs brute force.
    QueryDef(
      "q_knn_pq",
      Some(knnPqSql),
      "X2 product-quantized (ADC + exact refine) approximate top-k")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        val queries = emb.filter($"vec_id" % QueryStride === 0)
        Similarity.pqTopK(queries, emb, "vec_id", "embedding", K,
            m = 16, ksub = 16, refine = 8)
          .select($"query_id", $"neighbor_id", $"rank",
            round($"cos", 6).as("cos"))
          .orderBy($"query_id", $"rank")
      }),

    // X2f: IVF-PQ — coarse-list pruning over the compressed scan,
    // the standard 1e9-vector serving layout. Full hash oracle (r13):
    // coarse quantizer AND subspace codebooks are both integer-state
    // Lloyd fits on the shared sample, so probes, codes, ADC
    // shortlist and exact re-rank all replay in DuckDB.
    QueryDef(
      "q_knn_ivfpq",
      Some(knnIvfPqSql),
      "X2 IVF-PQ (probed lists + ADC + exact refine) top-k")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        val queries = emb.filter($"vec_id" % QueryStride === 0)
        Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding", K,
            nlist = 8, nprobe = 4, m = 16, ksub = 16, refine = 8)
          .select($"query_id", $"neighbor_id", $"rank",
            round($"cos", 6).as("cos"))
          .orderBy($"query_id", $"rank")
      }),

    // X2d: label-centroid similarity — grouped vector aggregation:
    // per-label mean vector (element-wise, via posexplode + groupBy),
    // then each label's centroid norm. Exercises vector agg at scale
    // (the shuffle carries (label, dim) pairs — fully partial-agg'd).
    QueryDef(
      "q_label_centroids",
      Some("""
        WITH e AS (
          SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings
        ), c AS (
          SELECT label, dim, avg(x) AS m
          FROM e GROUP BY label, dim
        )
        SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm,
               count(*) AS dims
        FROM c GROUP BY label ORDER BY label
      """.trim),
      "X2 per-label centroid norms via element-wise vector mean")(
      (spark, dir) => {
        import spark.implicits._
        table(spark, dir, "embeddings")
          .select($"label",
            posexplode(Similarity.toDouble($"embedding")).as(Seq("dim", "x")))
          .groupBy($"label", $"dim").agg(avg($"x").as("m"))
          .groupBy($"label")
          .agg(round(sqrt(sum($"m" * $"m")), 6).as("centroid_norm"),
            count(lit(1)).as("dims"))
          .orderBy($"label")
      }),

    // X91: centroid-form silhouette per label — the clustering-quality
    // report for the embedding space; exact same float expressions in
    // both engines, round(6) absorbing sum-order ulp as with the
    // centroid/outlier family.
    QueryDef(
      "q_silhouette",
      Some("""
        WITH e AS (
          SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings
        ), c AS (
          SELECT label AS lab2, dim, avg(x) AS m FROM e GROUP BY 1, 2
        ), d AS (
          SELECT e.vec_id, e.label, c.lab2,
                 sqrt(sum((e.x - c.m) * (e.x - c.m))) AS d
          FROM e JOIN c USING (dim)
          GROUP BY 1, 2, 3
        ), ab AS (
          SELECT vec_id, label,
                 max(CASE WHEN label = lab2 THEN d END) AS a,
                 min(CASE WHEN label <> lab2 THEN d END) AS b
          FROM d GROUP BY 1, 2
        ), s AS (
          SELECT label,
            CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
                 ELSE 0.0 END AS s
          FROM ab
        )
        SELECT label, count(*) AS n_vectors,
               round(avg(s), 6) AS mean_silhouette
        FROM s GROUP BY label ORDER BY label
      """.trim),
      "X91 per-label centroid silhouette of the embedding space")(
      (spark, dir) => {
        import spark.implicits._
        Similarity.centroidSilhouette(table(spark, dir, "embeddings"),
            "vec_id", "embedding", "label")
          .orderBy($"label")
      }),

    // X96: Davies-Bouldin index (centroid form) per label — scatter
    // s_l and worst-separated-neighbor ratio max_m (s_l+s_m)/d(c_l,c_m);
    // the companion clustering-quality report to q_silhouette that
    // catches overlapping-but-tight clusters. Same float conventions
    // as the centroid family (identical expression shapes, round(6)
    // absorbing sum-order ulp).
    QueryDef(
      "q_davies_bouldin",
      Some("""
        WITH e AS (
          SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings
        ), c AS (
          SELECT label, dim, avg(x) AS m FROM e GROUP BY 1, 2
        ), d AS (
          SELECT e.vec_id, e.label,
                 sqrt(sum((e.x - c.m) * (e.x - c.m))) AS d
          FROM e JOIN c USING (label, dim)
          GROUP BY 1, 2
        ), s AS (
          SELECT label, count(*) AS n_vectors, avg(d) AS s
          FROM d GROUP BY label
        ), cd AS (
          SELECT a.label AS la, b.label AS lb,
                 sqrt(sum((a.m - b.m) * (a.m - b.m))) AS cd
          FROM c a JOIN c b ON a.dim = b.dim AND a.label <> b.label
          GROUP BY 1, 2
        ), r AS (
          SELECT cd.la AS label, max((sa.s + sb.s) / cd.cd) AS r
          FROM cd JOIN s sa ON sa.label = cd.la
                  JOIN s sb ON sb.label = cd.lb
          GROUP BY 1
        )
        SELECT s.label, s.n_vectors, round(s.s, 6) AS scatter,
               round(r.r, 6) AS db_score
        FROM s JOIN r USING (label)
        ORDER BY label
      """.trim),
      "X96 per-label Davies-Bouldin clustering-quality score")(
      (spark, dir) => {
        import spark.implicits._
        Similarity.daviesBouldin(table(spark, dir, "embeddings"),
            "vec_id", "embedding", "label")
          .orderBy($"label")
      }),

    // X76: deterministic negative sampling — 5 different-label
    // negatives per anchor from 4 probed buckets, ranked by the md5
    // draw; RNG-free so the contrastive pairs reproduce across
    // engines, runs, and resumed jobs. `buckets` derives from the
    // corpus count by the operator's own sizing rule (max(64, n/78):
    // ~80-row pool per probed bucket) — still deterministic (one
    // count job), and the candidate-join cost stays Θ(n·pool) as the
    // corpus grows instead of the Θ(n²·probes/buckets) a pinned
    // bucket count degrades to.
    QueryDef(
      "q_negative_sample",
      Some("""
        WITH v AS (SELECT vec_id, label FROM embeddings),
        nb AS (SELECT greatest(64, count(*) // 78) AS nbuck FROM v),
        cand AS (
          SELECT vec_id AS neg_id, label AS nl,
                 CAST(('0x' || substr(md5('neg' ||
                   CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % (SELECT nbuck FROM nb) AS b
          FROM v
        ), probes AS (
          SELECT DISTINCT anchor_id, al, p FROM (
            SELECT v.vec_id AS anchor_id, v.label AS al,
                   CAST(('0x' || substr(md5('neg' ||
                     CAST(v.vec_id AS VARCHAR) || '#' ||
                     CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
                     % (SELECT nbuck FROM nb) AS p
            FROM v, unnest(range(0, 4)) AS r(i))
        ), j AS (
          SELECT anchor_id, neg_id
          FROM probes JOIN cand ON p = b
          WHERE nl <> al AND anchor_id <> neg_id
        ), ranked AS (
          SELECT anchor_id, neg_id,
                 row_number() OVER (PARTITION BY anchor_id
                   ORDER BY md5('neg' || CAST(anchor_id AS VARCHAR) ||
                     '|' || CAST(neg_id AS VARCHAR)), neg_id) AS rk
          FROM j
        )
        SELECT anchor_id, neg_id, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 5
        ORDER BY anchor_id, rk
      """.trim),
      "X76 5 deterministic different-label negatives per anchor")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        // the operator's documented sizing rule: buckets ∝ corpus so
        // each probed bucket holds a ~constant candidate pool
        val buckets = math.max(64L, emb.count() / 78L).toInt
        graft.operators.CorpusOps.negativeSample(
            emb, "vec_id", "label",
            k = 5, probes = 4, buckets = buckets, salt = "neg")
          .select($"anchor_id", $"neg_id", $"rk".cast("long").as("rk"))
          .orderBy($"anchor_id", $"rk")
      }),

    // X65: embedding outliers — top-20 vectors farthest (euclidean)
    // from their own label's centroid, the standard mislabel / OOD /
    // poisoning screen over an embedded corpus. Ranking is on the
    // 6-dp-rounded distance (ties on vec_id) so centroid sum-order
    // ulp drift cannot reorder the cut.
    QueryDef(
      "q_embedding_outliers",
      Some("""
        WITH e AS (
          SELECT vec_id, label,
                 unnest(CAST(embedding AS DOUBLE[])) AS x,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings
        ), c AS (
          SELECT label, dim, avg(x) AS m
          FROM e GROUP BY label, dim
        ), d AS (
          SELECT e.vec_id, e.label,
                 round(sqrt(sum((e.x - c.m) * (e.x - c.m))), 6) AS dist
          FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
          GROUP BY e.vec_id, e.label
        )
        SELECT vec_id, label, dist,
               CAST(row_number() OVER (ORDER BY dist DESC, vec_id)
                    AS BIGINT) AS rk
        FROM d
        ORDER BY dist DESC, vec_id
        LIMIT 20
      """.trim),
      "X65 top-20 centroid-distance embedding outliers (mislabel screen)")(
      (spark, dir) => {
        import spark.implicits._
        Similarity.centroidOutliers(
            table(spark, dir, "embeddings"), "vec_id", "embedding",
            "label", k = 20)
          .select($"vec_id", $"label", $"dist", $"rk".cast("long").as("rk"))
          .orderBy($"dist".desc, $"vec_id")
      }),

    // X120: persisted IVF index — build-once/serve-many (the FAISS
    // write_index lifecycle); the serve join rides dynamic partition
    // pruning over the cid-partitioned list store. Full hash oracle
    // (r13): build and serve share q_knn_ivf's integer-KMeans fit
    // (same salt/iterations), the parquet round trip stores exact
    // doubles and quantized-long centroids, so the served top-k is
    // bit-identical to the in-memory IVF — ONE oracle text covers
    // both. Recall + the DPP plan are spec-asserted in IvfIndexSpec.
    QueryDef(
      "q_ann_index",
      Some(knnIvfSql),
      "X120 persisted IVF index: build + DPP-pruned top-k serve")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        val idx = java.nio.file.Files
          .createTempDirectory("graft_ivfidx").toString
        graft.operators.IvfIndex.build(emb, "vec_id", "embedding",
          nlist = 16, dir = idx)
        graft.operators.IvfIndex.search(spark, idx,
            emb.filter($"vec_id" % QueryStride === 0),
            "vec_id", "embedding", k = K, nprobe = 4)
          .select($"query_id", $"neighbor_id", $"rank",
            round($"cos", 6).as("cos"))
          .orderBy($"query_id", $"rank")
      }),

    // X116: PCA whitening — rows-only (eigenvectors have no
    // closed-form SQL oracle); the whitening guarantees (unit
    // variance, zero cross-covariance, max-variance leading axis,
    // partitioning determinism) are spec-asserted in
    // SelectionWaveSpec. Contract shape: the whitened array is
    // posexploded to scalar (vec_id, dim, value) rows — the driver
    // comparator sorts columns and cannot order array cells (SURVEY
    // §8: rows-only outputs must be scalar-typed).
    QueryDef(
      "q_pca_whiten",
      None,
      "X116 PCA whitening of embeddings (top-8 axes, unit variance)")(
      (spark, dir) => {
        import spark.implicits._
        // no final orderBy: the driver comparator sorts rows itself,
        // and a range sort here would recompute the 8×64-term
        // whitening projection in the sampling pass
        Similarity.pcaWhiten(table(spark, dir, "embeddings"),
            "vec_id", "embedding", k = 8)
          .select($"vec_id", posexplode($"whitened").as(Seq("dim", "__v")))
          .select($"vec_id", $"dim", round($"__v", 6).as("value"))
      }),

    // X106: Calinski-Harabasz variance-ratio index — the third
    // cluster-validity score next to q_silhouette / q_davies_bouldin;
    // one row, so a sum drift anywhere in the BCSS/WCSS plumbing
    // breaks the hash.
    QueryDef(
      "q_calinski_harabasz",
      Some("""
        WITH e AS (
          SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings
        ), c AS (
          SELECT label, dim, avg(x) AS m, count(*) AS nl
          FROM e GROUP BY 1, 2
        ), g AS (
          SELECT dim, avg(x) AS gm FROM e GROUP BY 1
        ), w AS (
          SELECT sum((e.x - c.m) * (e.x - c.m)) AS wcss
          FROM e JOIN c USING (label, dim)
        ), b AS (
          SELECT sum(c.nl * (c.m - g.gm) * (c.m - g.gm)) AS bcss
          FROM c JOIN g USING (dim)
        ), t AS (
          SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                 CAST(count(DISTINCT label) AS BIGINT) AS n_labels
          FROM embeddings
        )
        SELECT t.n_vectors, t.n_labels,
               round(w.wcss, 6) AS wcss, round(b.bcss, 6) AS bcss,
               round((b.bcss / (t.n_labels - 1)) /
                     (w.wcss / (t.n_vectors - t.n_labels)), 6) AS ch_index
        FROM t, w, b
      """.trim),
      "X106 Calinski-Harabasz variance-ratio cluster-validity index")(
      (spark, dir) =>
        Similarity.calinskiHarabasz(table(spark, dir, "embeddings"),
          "vec_id", "embedding", "label")),

    // X107: margin-based candidate mining (ratio margin, k=4) between
    // the even-id and odd-id halves of the embeddings table — the
    // bitext-mining scorer. Neighborhood means are rank-ordered left
    // folds on both sides, so margins (and therefore the argmax picks
    // and the mutual-best flags) are bit-identical cross-engine.
    QueryDef(
      "q_margin_pairs",
      Some("""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings
        ), n AS (
          SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v
        ), pairs AS (
          SELECT a.vec_id AS left_id, b.vec_id AS right_id,
                 list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
          FROM n a, n b
          WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
        ), lr AS (
          SELECT left_id, right_id, cos,
                 row_number() OVER (PARTITION BY left_id
                   ORDER BY cos DESC, right_id) AS rk
          FROM pairs
        ), la AS (
          SELECT left_id,
                 list_reduce(list(cos ORDER BY rk), (a, b) -> a + b)
                   / count(*) AS avgl
          FROM lr WHERE rk <= 4 GROUP BY left_id
        ), rr AS (
          SELECT left_id, right_id, cos,
                 row_number() OVER (PARTITION BY right_id
                   ORDER BY cos DESC, left_id) AS rk
          FROM pairs
        ), ra AS (
          SELECT right_id,
                 list_reduce(list(cos ORDER BY rk), (a, b) -> a + b)
                   / count(*) AS avgr
          FROM rr WHERE rk <= 4 GROUP BY right_id
        ), scored AS (
          SELECT p.left_id, p.right_id, p.cos,
                 p.cos / ((la.avgl + ra.avgr) / 2) AS margin
          FROM pairs p JOIN la USING (left_id) JOIN ra USING (right_id)
        ), fwd AS (
          SELECT *, row_number() OVER (PARTITION BY left_id
                   ORDER BY margin DESC, right_id) AS rf
          FROM scored
        ), bwd AS (
          SELECT left_id, right_id
          FROM (SELECT left_id, right_id,
                       row_number() OVER (PARTITION BY right_id
                         ORDER BY margin DESC, left_id) AS rb
                FROM scored)
          WHERE rb = 1
        )
        SELECT f.left_id, f.right_id, round(f.cos, 6) AS cos,
               round(f.margin, 6) AS margin,
               (b.left_id IS NOT NULL) AS is_mutual
        FROM fwd f LEFT JOIN bwd b
          ON b.left_id = f.left_id AND b.right_id = f.right_id
        WHERE f.rf = 1
        ORDER BY f.left_id
      """.trim),
      "X107 ratio-margin candidate mining with mutual-best flags")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        Similarity.marginMining(
            emb.filter($"vec_id" % 2 === 0),
            emb.filter($"vec_id" % 2 === 1),
            "vec_id", "embedding", k = 4)
          .orderBy($"left_id")
      }),

    // X144: NDCG@5 of the brute-force cosine ranking against
    // label-agreement relevance — the retrieval-eval metric over the
    // q_knn_brute ranking, replayed end-to-end in SQL. Binary gains,
    // IDCG over the ideally-reordered retrieved list.
    QueryDef(
      "q_ndcg",
      Some(s"""
        WITH v AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings
        ), q AS (SELECT * FROM v WHERE vec_id % $QueryStride = 0),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 q.label AS ql, c.label AS nl,
                 list_dot_product(q.e, c.e) /
                 (sqrt(list_dot_product(q.e, q.e)) *
                  sqrt(list_dot_product(c.e, c.e))) AS cos
          FROM q JOIN v c ON q.vec_id <> c.vec_id
        ), topk AS (
          SELECT query_id, rank,
                 CASE WHEN ql = nl THEN 1 ELSE 0 END AS rel
          FROM (
            SELECT query_id, ql, nl, cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
          )
          WHERE rank <= $K
        ), perq AS (
          SELECT query_id, CAST(count(*) AS BIGINT) AS n_ranked,
                 CAST(sum(rel) AS BIGINT) AS n_relevant,
                 sum(CAST(rel AS DOUBLE)
                   / log2(CAST(rank AS DOUBLE) + 1.0)) AS dcg
          FROM topk GROUP BY query_id
        )
        SELECT query_id, n_ranked, n_relevant,
               CASE WHEN n_relevant > 0 THEN
                 round(dcg / list_sum(
                   [1.0 / log2(CAST(i AS DOUBLE) + 1.0)
                    for i in range(1, n_relevant + 1)]), 6)
               END AS ndcg
        FROM perq
        ORDER BY query_id
      """.trim),
      "X144 NDCG@5 of cosine retrieval vs label-agreement relevance")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        val lab = emb.select($"vec_id", $"label")
        val ranked = Similarity.bruteForceTopK(
          emb.filter($"vec_id" % QueryStride === 0), emb,
          "vec_id", "embedding", K)
        val withRel = ranked
          .join(lab.select($"vec_id".as("query_id"), $"label".as("__ql")),
            "query_id")
          .join(lab.select($"vec_id".as("neighbor_id"),
            $"label".as("__nl")), "neighbor_id")
          .withColumn("rel", when($"__ql" === $"__nl", 1L).otherwise(0L))
        graft.operators.RankEval.ndcgAtK(withRel, "query_id", "rank",
            "rel", K)
          .orderBy($"query_id")
      }),

    // X138: embedding centroid drift — per label, cosine and L2 gap
    // between the even-id (reference) and odd-id (current) centroid.
    // Nano-quantized integer sums + exact decimal/HUGEINT cross
    // products, so both engines evaluate the same final doubles.
    QueryDef(
      "q_embedding_drift",
      Some("""
        WITH e AS (
          SELECT vec_id, label, vec_id % 2 = 0 AS ref,
                 generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings
        ), q AS (
          SELECT label, ref, dim,
                 CAST(sum(CAST(round(x * 1000000000.0) AS BIGINT))
                   AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2, 3
        ), j AS (
          SELECT a.label, a.dim, a.s AS sa, a.n AS na, b.s AS sb,
                 b.n AS nb
          FROM q a JOIN q b USING (label, dim)
          WHERE a.ref AND NOT b.ref
        ), g AS (
          SELECT label,
                 CAST(max(na) AS BIGINT) AS n_ref,
                 CAST(max(nb) AS BIGINT) AS n_cur,
                 sum(CAST(sa AS HUGEINT) * sb) AS ab,
                 sum(CAST(sa AS HUGEINT) * sa) AS aa,
                 sum(CAST(sb AS HUGEINT) * sb) AS bb,
                 sum((CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na)
                   * (CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na))
                   AS g2
          FROM j GROUP BY label
        )
        SELECT label, n_ref, n_cur,
               CASE WHEN aa > 0 AND bb > 0 THEN
                 round(CAST(ab AS DOUBLE) /
                       (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE))),
                       6) END AS centroid_cos,
               round(sqrt(CAST(g2 AS DOUBLE)) /
                     (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)
                      * 1000000000.0), 6) AS centroid_l2_gap
        FROM g ORDER BY label
      """.trim),
      "X138 per-label embedding centroid drift (ref vs current slice)")(
      (spark, dir) => {
        import spark.implicits._
        Similarity.embeddingDrift(
            table(spark, dir, "embeddings")
              .withColumn("__even", ($"vec_id" % 2) === 0),
            "embedding", "label", "__even")
          .orderBy($"label")
      }),
  )
}
