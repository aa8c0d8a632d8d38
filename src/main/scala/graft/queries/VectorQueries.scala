package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Tables.t
import graft.operators.{Dedup, Similarity, StagingCaches}

/** Driver-gated queries for similarity search over the `embeddings` table.
  *
  * All vector arithmetic runs in double with a fixed fold order and scores
  * are rounded to 4 decimals before ranking, so the DuckDB oracle (also
  * double) agrees bit-for-bit on ranks.
  */
object VectorQueries {

  /** Generates the FULL DuckDB replay of the IVF path — sample order,
    * k-means fit, assignment, and probe — promoting q_ann_ivf from
    * rows-only to hash-match. Every Spark-side source of determinism is
    * mirrored exactly:
    *
    *   - the bounded sample's order (which seeds farthest-point init AND
    *     fixes the IEEE fold order of Lloyd's sums) comes from
    *     `xxhash64(vec_id)`: replayed bit-exactly in HUGEINT mod-2^64
    *     arithmetic (split-multiply for the 64×64-bit products, rotations
    *     as shift-or, the XXH64 single-long path with seed 42);
    *   - cosine is a LEFT-FOLD list_reduce matching the Scala
    *     accumulation loop (0.0 + x == x in IEEE, so the missing explicit
    *     zero init is exact);
    *   - `math.rint` (half-even) is emulated explicitly — DuckDB round()
    *     is half-away and disagrees on .5 boundaries;
    *   - farthest-point init carries (chosen, cents) through a recursive
    *     CTE, argmin via list_min over (score, id) structs (id unique ⇒
    *     deterministic); Lloyd's 5 iterations carry the centroid list,
    *     assignment ties to the lowest index via
    *     list_position(.., list_max(..)) = leftmost match; empty
    *     clusters keep their centroid; means re-round half-even at 1e-6.
    *
    * Verified equal to the Spark output row-for-row at sf0.01 before
    * being frozen here (and the Lloyd fold order genuinely matters: a
    * sample in id order instead of hash order diverges by iteration 2).
    */
  private[queries] object IvfReplay {
    private val M = BigInt(1) << 64
    private val P1 = BigInt("9E3779B185EBCA87", 16)
    private val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    private val P3 = BigInt("165667B19E3779F9", 16)
    private val P4 = BigInt("85EBCA77C2B2AE63", 16)
    private val P5 = BigInt("27D4EB2F165667C5", 16)

    private def mm(a: String, b: BigInt): String =
      s"(((($a) // 4294967296) * $b) % 4294967296 * 4294967296" +
        s" + (($a) % 4294967296) * $b) % $M"
    private def rot(x: String, r: Int): String =
      s"((($x) * ${BigInt(1) << r}) % $M + ($x) // ${BigInt(1) << (64 - r)}) % $M"
    private def sh(x: String, r: Int): String =
      s"xor($x, ($x) // ${BigInt(1) << r})"

    /** CTE chain computing `h = xxhash64(vec_id)` alongside (id, v);
      * `src` is the fit corpus (a table or CTE with vec_id/embedding —
      * the recenter oracle fits over the appended union). */
    private def xxhCtes(src: String): String =
      s"""hk0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
         |               CAST(CASE WHEN vec_id < 0
         |                    THEN CAST(vec_id AS HUGEINT) + $M
         |                    ELSE CAST(vec_id AS HUGEINT) END AS HUGEINT) AS u
         |        FROM $src),
         |hk1 AS (SELECT id, v, ${mm("u", P2)} AS x FROM hk0),
         |hk2 AS (SELECT id, v, ${rot("x", 31)} AS x FROM hk1),
         |hk3 AS (SELECT id, v, ${mm("x", P1)} AS x FROM hk2),
         |hk4 AS (SELECT id, v, xor(CAST(${(BigInt(42) + P5 + 8) % M} AS HUGEINT), x) AS x FROM hk3),
         |hk5 AS (SELECT id, v, (${mm(rot("x", 27), P1)} + $P4) % $M AS x FROM hk4),
         |hk6 AS (SELECT id, v, ${sh("x", 33)} AS x FROM hk5),
         |hk7 AS (SELECT id, v, ${mm("x", P2)} AS x FROM hk6),
         |hk8 AS (SELECT id, v, ${sh("x", 29)} AS x FROM hk7),
         |hk9 AS (SELECT id, v, ${mm("x", P3)} AS x FROM hk8),
         |hka AS (SELECT id, v, ${sh("x", 32)} AS x FROM hk9),
         |hk AS (SELECT id, v, CAST(CASE WHEN x >= ${BigInt(1) << 63}
         |       THEN x - $M ELSE x END AS BIGINT) AS h FROM hka)""".stripMargin

    /** Exact replica of Similarity.cos: left-fold dot/norms, zero guard. */
    private def cosx(a: String, b: String): String = {
      val dot = s"list_reduce(list_transform(list_zip($a, $b), " +
        "z -> z[1] * z[2]), (x1, y1) -> x1 + y1)"
      val na = s"list_reduce(list_transform($a, e1 -> e1 * e1), (x2, y2) -> x2 + y2)"
      val nb = s"list_reduce(list_transform($b, e2 -> e2 * e2), (x3, y3) -> x3 + y3)"
      s"(CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0 " +
        s"ELSE $dot / (sqrt($na) * sqrt($nb)) END)"
    }

    /** math.rint (round half to even) on a double expression. */
    private def rintx(y: String): String =
      s"(CASE WHEN ($y) - floor($y) > 0.5 THEN floor($y) + 1.0 " +
        s"WHEN ($y) - floor($y) < 0.5 THEN floor($y) " +
        s"ELSE floor($y) + abs(CAST(CAST(floor($y) AS BIGINT) % 2 AS DOUBLE)) END)"

    /** CTE chain through `cent` (the converged centroids) — the shared
      * fit replay, reused by the semantic-dedup and index-lifecycle
      * oracles; `src` is the fit corpus. */
    private def fitPrefix(src: String = "embeddings"): String = {
      val fpScore =
        rintx("(" + cosx("p.v", "c") + ") * 10000.0") + " / 10000.0"
      val asgCos = cosx("p.v", "c")
      s"""${xxhCtes(src)},
         |s1 AS (SELECT list(struct_pack(id := id, v := v) ORDER BY h, id) AS pts
         |       FROM (SELECT id, v, h FROM hk ORDER BY h, id LIMIT 4096)),
         |fp(n, chosen, cents) AS (
         |  SELECT 1, [pts[1].id], [pts[1].v] FROM s1
         |  UNION ALL
         |  SELECT n + 1, list_append(chosen, pick.id),
         |         list_append(cents, list_filter(pts, q2 -> q2.id = pick.id)[1].v)
         |  FROM (
         |    SELECT n, chosen, cents, pts,
         |           list_min(list_transform(
         |             list_filter(pts, p0 -> NOT list_contains(chosen, p0.id)),
         |             p -> struct_pack(
         |               s := list_max(list_transform(cents, c -> $fpScore)),
         |               id := p.id))) AS pick
         |    FROM fp, s1
         |    WHERE n < least(16, len(pts))
         |  )
         |),
         |seed AS (SELECT cents FROM fp, s1 WHERE n = least(16, len(pts))),
         |lloyd(i, cents) AS (
         |  SELECT 0, cents FROM seed
         |  UNION ALL
         |  SELECT i + 1,
         |         list_transform(range(1, len(cents) + 1), ci ->
         |           CASE WHEN len(list_filter(asg, a1 -> a1.b = ci)) = 0
         |                THEN cents[ci]
         |           ELSE list_transform(
         |                  list_reduce(
         |                    list_transform(list_filter(asg, a2 -> a2.b = ci),
         |                                   a3 -> a3.v),
         |                    (va, vb) -> list_transform(list_zip(va, vb),
         |                                               z2 -> z2[1] + z2[2])),
         |                  x9 -> ${rintx("x9 / len(list_filter(asg, a4 -> a4.b = ci)) * 1000000.0")} / 1000000.0)
         |           END)
         |  FROM (
         |    SELECT i, cents,
         |           list_transform(pts, p -> struct_pack(
         |             b := list_position(list_transform(cents, c -> $asgCos),
         |                                list_max(list_transform(cents, c -> $asgCos))),
         |             v := p.v)) AS asg
         |    FROM lloyd, s1
         |    WHERE i < 5
         |  )
         |),
         |cent AS (SELECT unnest(cents) AS cv, unnest(range(0, len(cents))) AS cid
         |         FROM lloyd WHERE i = 5)""".stripMargin
    }

    /** Row-hashed recall oracle for q_ann_ivf_recall: replays BOTH
      * pipelines — the full IVF path at the gate's nProbe=8 (the same
      * fit replay every IVF oracle shares) AND the exact brute top-10 —
      * and emits the per-query hit counts their intersection yields.
      * The oracle therefore RECOMPUTES the recall measurement instead
      * of pinning a Spark-computed flag: any divergence in the fit, the
      * probes, the ranking, or the baseline fails the hash. */
    lazy val recallSql: String =
      s"""WITH RECURSIVE
         |${fitPrefix()},
         |emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings),
         |ascore AS (SELECT e.id, e.v, c.cid,
         |                  round(${cosx("e.v", "c.cv")}, 4) AS cs
         |           FROM emb e, cent c),
         |assigned AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore) WHERE rn = 1),
         |probes AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore WHERE id < 5) WHERE rn <= 8),
         |pairs AS (SELECT p.id AS query_id, a.id AS cand_id,
         |                 round(${cosx("p.v", "a.v")}, 4) AS score
         |          FROM probes p JOIN assigned a USING (cid)
         |          WHERE a.id != p.id),
         |ranked AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, cand_id) AS rank
         |  FROM pairs) WHERE rank <= 10),
         |brute AS (SELECT query_id, cand_id FROM (
         |  SELECT q.id AS query_id, e.id AS cand_id,
         |         row_number() OVER (PARTITION BY q.id
         |           ORDER BY round(${cosx("q.v", "e.v")}, 4) DESC, e.id)
         |           AS rn
         |  FROM emb q JOIN emb e ON e.id != q.id
         |  WHERE q.id < 5) WHERE rn <= 10),
         |nn AS (SELECT query_id, count(*) AS n FROM brute GROUP BY query_id),
         |hh AS (SELECT b.query_id, count(*) AS hits
         |       FROM brute b JOIN ranked r USING (query_id, cand_id)
         |       GROUP BY b.query_id)
         |SELECT nn.query_id, coalesce(hh.hits, 0) AS hits, nn.n
         |FROM nn LEFT JOIN hh USING (query_id)
         |ORDER BY query_id""".stripMargin

    /** L2 squared distance with the same left-fold element order as
      * ProductQuant.sqDist's while loop. */
    private def sqd(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), " +
        s"zq -> (zq[1] - zq[2]) * (zq[1] - zq[2])), (xq, yq) -> xq + yq)"

    /** Raw dot product with IvfPq.dot's left-fold order. */
    private def dotx(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), " +
        s"zd -> zd[1] * zd[2]), (xz, yz) -> xz + yz)"

    /** CTE chain replaying ProductQuant.fitCodebooks + encode: the
      * l2-normalized corpus (`nrm`), the xxhash64-ordered sample, ONE
      * recursive farthest-point init across all m=8 subspaces (max-min
      * L2 at half-even 1e-6 rounding, id tiebreak), 5 L2 Lloyd rounds
      * per subspace (first-minimum assignment ties, half-even 1e-6
      * re-rounded means, sample-order summation), the per-subspace
      * codebook list (`bkl`), and the nearest-code corpus encoding
      * (`enc`). Subvector slicing is 64/8 = 8 dims, the testdata
      * embedding shape every vector oracle already pins. */
    private def pqFitCtes(src: String = "embeddings"): String =
      s"""${xxhCtes(src)},
         |${pqNormCte("hk", "nrm")},
         |${pqBookCtes()}""".stripMargin

    /** l2-normalize a (id, v, h) CTE into `(id, v, h, nv)` — the exact
      * ProductQuant.l2normalize (zero-norm vectors pass through). */
    private def pqNormCte(from: String, name: String): String =
      s"""$name AS (SELECT id, v, h,
         |               CASE WHEN nn = 0.0 THEN v
         |                    ELSE list_transform(v, xn -> xn / sqrt(nn))
         |               END AS nv
         |        FROM (SELECT id, v, h,
         |                     list_reduce(list_transform(v, en -> en * en),
         |                                 (an, bn) -> an + bn) AS nn
         |              FROM $from))""".stripMargin

    /** Codebook fit + corpus encoding: the BOOKS always fit from the
      * standing `nrm(id, v, h, nv)` CTE (the fit corpus — `nv` is
      * whatever vector family the caller quantizes: l2-normalized
      * vectors for plain PQ, per-cell residuals for IVFADC), while the
      * ENCODE pass reads `encFrom` (the search corpus — differs from
      * the fit corpus in the append/streamed lifecycle variants, whose
      * model deliberately stands while the corpus grows);
      * `extraEncCols` rides extra encode-source columns (e.g. the cell
      * id) through to `enc`. */
    private def pqBookCtes(extraEncCols: String = "",
                           encFrom: String = "nrm"): String = {
      val fpPick = rintx("(" + sqd("p.sv", "c") + ") * 1000000.0") +
        " / 1000000.0"
      s"""sq1 AS (SELECT list(struct_pack(id := id, v := nv)
         |                    ORDER BY h, id) AS pts
         |        FROM (SELECT id, nv, h FROM nrm ORDER BY h, id
         |              LIMIT 4096)),
         |subs AS (SELECT tq.sub,
         |                list_transform(pts, pq -> struct_pack(
         |                  id := pq.id,
         |                  sv := pq.v[CAST(tq.sub*8+1 AS INT):CAST(tq.sub*8+8 AS INT)]))
         |                  AS pts
         |         FROM range(0, 8) tq(sub), sq1),
         |fpq(sub, n, chosen, cents) AS (
         |  SELECT sub, 1, [pts[1].id], [pts[1].sv] FROM subs
         |  UNION ALL
         |  SELECT sub, n + 1, list_append(chosen, pick.id),
         |         list_append(cents,
         |           list_filter(pts, q2 -> q2.id = pick.id)[1].sv)
         |  FROM (
         |    SELECT sub, n, chosen, cents, pts,
         |           list_min(list_transform(
         |             list_filter(pts, p0 -> NOT list_contains(chosen, p0.id)),
         |             p -> struct_pack(
         |               s := -list_min(list_transform(cents,
         |                      c -> $fpPick)),
         |               id := p.id))) AS pick
         |    FROM fpq JOIN subs USING (sub)
         |    WHERE n < least(16, len(pts))
         |  )
         |),
         |seedq AS (SELECT sub, cents FROM fpq JOIN subs USING (sub)
         |          WHERE n = least(16, len(pts))),
         |lloydq(sub, i, cents) AS (
         |  SELECT sub, 0, cents FROM seedq
         |  UNION ALL
         |  SELECT sub, i + 1,
         |         list_transform(range(1, len(cents) + 1), ci ->
         |           CASE WHEN len(list_filter(asg, a1 -> a1.b = ci)) = 0
         |                THEN cents[ci]
         |           ELSE list_transform(
         |                  list_reduce(
         |                    list_transform(list_filter(asg, a2 -> a2.b = ci),
         |                                   a3 -> a3.v),
         |                    (va, vb) -> list_transform(list_zip(va, vb),
         |                                               z2 -> z2[1] + z2[2])),
         |                  x9 -> ${rintx("x9 / len(list_filter(asg, a4 -> a4.b = ci)) * 1000000.0")} / 1000000.0)
         |           END)
         |  FROM (
         |    SELECT sub, i, cents,
         |           list_transform(pts, p -> struct_pack(
         |             b := list_position(
         |                    list_transform(cents, c -> ${sqd("p.sv", "c")}),
         |                    list_min(list_transform(cents,
         |                      c -> ${sqd("p.sv", "c")}))),
         |             v := p.sv)) AS asg
         |    FROM lloydq JOIN subs USING (sub)
         |    WHERE i < 5
         |  )
         |),
         |bkl AS MATERIALIZED (SELECT list(cents ORDER BY sub) AS bks
         |        FROM lloydq WHERE i = 5),
         |enc AS (SELECT n0.id$extraEncCols,
         |               list_transform(range(0, 8), sq ->
         |                 list_position(
         |                   list_transform(bks[CAST(sq + 1 AS INT)], c ->
                               ${sqd("n0.nv[CAST(sq*8+1 AS INT):CAST(sq*8+8 AS INT)]", "c")}),
         |                   list_min(list_transform(bks[CAST(sq + 1 AS INT)], c ->
                               ${sqd("n0.nv[CAST(sq*8+1 AS INT):CAST(sq*8+8 AS INT)]", "c")}))) - 1)
         |                 AS codes
         |        FROM $encFrom n0, bkl)""".stripMargin
    }

    /** Row-hashed PQ recall oracle (q_ann_pq_recall): replays the
      * ENTIRE ProductQuant pipeline — [[pqFitCtes]], per-query ADC
      * (per-subspace inner-product lookups summed in subspace order,
      * round-half-away 1e-4), the 100-deep ADC shortlist, exact-cosine
      * re-rank to top-10 — PLUS the brute top-10 baseline, and emits
      * per-query hit counts. Like [[recallSql]], the oracle RECOMPUTES
      * the recall measurement end to end. */
    lazy val pqRecallSql: String =
      s"""WITH RECURSIVE
         |${pqFitCtes()},
         |qn AS (SELECT id AS query_id, nv AS qv FROM nrm WHERE id < 5),
         |adcs AS (SELECT q.query_id, e.id AS cand_id,
         |                round(list_reduce(list_prepend(0.0,
         |                  list_transform(range(0, 8), sa ->
         |                    list_reduce(list_transform(list_zip(
         |                        q.qv[CAST(sa*8+1 AS INT):CAST(sa*8+8 AS INT)],
         |                        bks[CAST(sa + 1 AS INT)][CAST(e.codes[CAST(sa + 1 AS INT)] + 1 AS INT)]),
         |                      zz -> zz[1] * zz[2]), (xd, yd) -> xd + yd))),
         |                  (aa, xx) -> aa + xx), 4) AS adc
         |         FROM qn q, enc e, bkl
         |         WHERE e.id != q.query_id),
         |sl AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adc DESC, cand_id) AS rn
         |  FROM adcs) WHERE rn <= 100),
         |rr AS (SELECT s.query_id, s.cand_id,
         |              round(${cosx("q.qv", "e0.v")}, 4) AS score
         |       FROM sl s JOIN qn q USING (query_id)
         |       JOIN hk e0 ON e0.id = s.cand_id),
         |rkd AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, cand_id) AS rank
         |  FROM rr) WHERE rank <= 10),
         |brute AS (SELECT query_id, cand_id FROM (
         |  SELECT q.id AS query_id, e.id AS cand_id,
         |         row_number() OVER (PARTITION BY q.id
         |           ORDER BY round(${cosx("q.v", "e.v")}, 4) DESC, e.id)
         |           AS rn
         |  FROM hk q JOIN hk e ON e.id != q.id
         |  WHERE q.id < 5) WHERE rn <= 10),
         |nn AS (SELECT query_id, count(*) AS n FROM brute GROUP BY query_id),
         |hh AS (SELECT b.query_id, count(*) AS hits
         |       FROM brute b JOIN rkd r USING (query_id, cand_id)
         |       GROUP BY b.query_id)
         |SELECT nn.query_id, coalesce(hh.hits, 0) AS hits, nn.n
         |FROM nn LEFT JOIN hh USING (query_id)
         |ORDER BY query_id""".stripMargin

    /** Row-hashed IVFADC recall oracle (q_ann_ivfpq_recall): stacks the
      * coarse-fit replay ([[fitPrefix]] — the SAME cosine k-means every
      * IVF oracle shares) with the PQ machinery over RESIDUALS: unit
      * centroids, per-vector cell assignment (4-decimal-rounded q̂·μ̂,
      * lowest-cid ties), residual vectors, per-subspace residual
      * codebooks ([[pqBookCtes]]), nProbe=10 probes with raw q̂·μ̂
      * offsets, ADC over probed cells only, the 300-deep shortlist,
      * exact-cosine re-rank — plus the brute top-10 baseline, emitting
      * per-query hit counts the oracle fully recomputes. */
    lazy val ivfpqRecallSql: String =
      s"""WITH RECURSIVE
         |${ivfpqStack()},
         |rkd AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, cand_id) AS rank
         |  FROM rr) WHERE rank <= 10),
         |brute AS (SELECT query_id, cand_id FROM (
         |  SELECT q.id AS query_id, e.id AS cand_id,
         |         row_number() OVER (PARTITION BY q.id
         |           ORDER BY round(${cosx("q.v", "e.v")}, 4) DESC, e.id)
         |           AS rn
         |  FROM hk q JOIN hk e ON e.id != q.id
         |  WHERE q.id < 5) WHERE rn <= 10),
         |nn AS (SELECT query_id, count(*) AS n FROM brute GROUP BY query_id),
         |hh AS (SELECT b.query_id, count(*) AS hits
         |       FROM brute b JOIN rkd r USING (query_id, cand_id)
         |       GROUP BY b.query_id)
         |SELECT nn.query_id, coalesce(hh.hits, 0) AS hits, nn.n
         |FROM nn LEFT JOIN hh USING (query_id)
         |ORDER BY query_id""".stripMargin

    /** Shared top-10 tail over the stack's `rr`: plain rows, or the
      * same rows phase-crossed for multi-phase gates. */
    private def ivfpqFinal(phases: String = ""): String =
      s"""rk AS (SELECT query_id, cand_id, score,
         |              row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY score DESC, cand_id)
         |                AS rank
         |       FROM rr)
         |${if (phases.isEmpty)
             "SELECT query_id, cand_id, score, rank FROM rk\n" +
             "WHERE rank <= 10 ORDER BY query_id, rank"
           else
             "SELECT pp.phase, query_id, cand_id, score, rank\n" +
             s"FROM rk CROSS JOIN (SELECT unnest([$phases]) AS phase) pp\n" +
             "WHERE rank <= 10 ORDER BY phase, query_id, rank"}""".stripMargin

    /** FULL-ROW IVFADC oracle (q_ann_index_pq): the same stack, final
      * rows (query_id, cand_id, score, rank) — the persisted-index
      * search is result-identical to ivfpqTopK (IvfPqSpec pins it), so
      * the on-disk round trip hashes against the complete DuckDB
      * replay, scores included, no recall flag anywhere. */
    lazy val ivfpqSql: String =
      s"""WITH RECURSIVE
         |${ivfpqStack()},
         |${ivfpqFinal()}""".stripMargin

    /** FULL append-lifecycle oracle (q_ann_index_pq_append AND
      * q_stream_pq_index_replay): the perturbed batch joins the
      * encode/search corpus while the MODEL stands — exactly
      * appendToIndex's / the streaming sink's no-refit trade. */
    lazy val ivfpqAppendSql: String =
      s"""WITH RECURSIVE
         |${ivfpqStack(batchInCorpus = true)},
         |${ivfpqFinal()}""".stripMargin

    /** FULL recenter-lifecycle oracle (q_ann_index_pq_recenter): the
      * whole model — coarse cells AND residual books — refits over the
      * stored union, and the search runs over the same union. */
    lazy val ivfpqRecenterSql: String =
      s"""WITH RECURSIVE
         |${ivfpqStack(batchInCorpus = true, batchInFit = true)},
         |${ivfpqFinal()}""".stripMargin

    /** FULL two-phase deletion oracle (q_ann_index_pq_delete): the
      * formula delete set excluded before the ADC shortlist (the
      * ledger's semantics — a dead id never occupies a slot; the model
      * stands), two phases of identical rows pinning both the mask and
      * the partition-selective physical rewrite. */
    lazy val ivfpqDeleteSql: String =
      s"""WITH RECURSIVE
         |${ivfpqStack(candCond =
             " AND NOT (e.id % 17 = 3 AND e.id < 1700)")},
         |${ivfpqFinal(phases = "'tombstoned', 'vacuumed'")}""".stripMargin

    /** The shared IVFADC CTE stack through `rr` (exact-cosine-scored
      * shortlist rows): coarse fit replay, unit centroids, residual
      * codebooks, nProbe=10 probes, ADC over probed cells, 300-deep
      * shortlist — the gate settings of q_ann_ivfpq_recall AND
      * q_ann_index_pq (IvfPq.searchIndex is row-identical to
      * ivfpqTopK at the same parameters).
      *
      * Lifecycle parameterization: `batchInCorpus` unions the standard
      * perturbed batch into the ENCODE/SEARCH corpus (append /
      * streamed-ingest gates — the model deliberately stands);
      * `batchInFit` also refits coarse cells AND residual books over
      * the union (the recenter gate — recenterIndex refits the whole
      * model from stored vectors); `candCond` excludes tombstoned ids
      * before the ADC shortlist (the delete gate — the ledger
      * anti-joins pqcodes before ranking, so a dead id never occupies
      * a slot). */
    private def ivfpqStack(batchInCorpus: Boolean = false,
                           batchInFit: Boolean = false,
                           candCond: String = ""): String = {
      val fitSrc = if (batchInFit) "ubase" else "embeddings"
      val corpusSrc = if (batchInCorpus) "ubase" else "embeddings"
      s"""ubase AS (SELECT vec_id, embedding FROM embeddings
         |          UNION ALL
         |          SELECT vec_id + 1000000,
         |                 list_concat([CAST(embedding AS DOUBLE[])[1]
         |                                + 0.1],
         |                             CAST(embedding AS DOUBLE[])[2:64])
         |          FROM embeddings WHERE vec_id < 20),
         |${fitPrefix(fitSrc)},
         |ucent AS MATERIALIZED (SELECT cid,
         |                 CASE WHEN cn = 0.0 THEN cv
         |                      ELSE list_transform(cv, xu -> xu / sqrt(cn))
         |                 END AS uc
         |          FROM (SELECT cid, cv,
         |                       list_reduce(list_transform(cv, eu -> eu * eu),
         |                                   (au, bu) -> au + bu) AS cn
         |                FROM cent)),
         |${pqNormCte("hk", "nrm0")},
         |rda AS (SELECT n.id, u.cid,
         |               ${rintx("(" + dotx("n.nv", "u.uc") + ") * 10000.0")} / 10000.0 AS rd,
         |               u.uc
         |        FROM nrm0 n, ucent u),
         |acell AS (SELECT id, cid AS cell, uc FROM (
         |  SELECT id, cid, uc, rd,
         |         row_number() OVER (PARTITION BY id
         |                            ORDER BY rd DESC, cid) AS rn
         |  FROM rda) WHERE rn = 1),
         |nrm AS MATERIALIZED (SELECT n.id, n.v, n.h, a.cell,
         |               list_transform(list_zip(n.nv, a.uc),
         |                              zr -> zr[1] - zr[2]) AS nv
         |        FROM nrm0 n JOIN acell a USING (id)),
         |corp0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |          FROM $corpusSrc),
         |corpn AS (SELECT id, v,
         |                 CASE WHEN cn2 = 0.0 THEN v
         |                      ELSE list_transform(v, xn -> xn / sqrt(cn2))
         |                 END AS nv
         |          FROM (SELECT id, v,
         |                       list_reduce(list_transform(v, en -> en * en),
         |                                   (an, bn) -> an + bn) AS cn2
         |                FROM corp0)),
         |crda AS (SELECT n.id, u.cid,
         |               ${rintx("(" + dotx("n.nv", "u.uc") + ") * 10000.0")} / 10000.0 AS rd,
         |               u.uc
         |        FROM corpn n, ucent u),
         |cacell AS (SELECT id, cid AS cell, uc FROM (
         |  SELECT id, cid, uc, rd,
         |         row_number() OVER (PARTITION BY id
         |                            ORDER BY rd DESC, cid) AS rn
         |  FROM crda) WHERE rn = 1),
         |cnrm AS MATERIALIZED (SELECT n.id, a.cell,
         |                list_transform(list_zip(n.nv, a.uc),
         |                               zr -> zr[1] - zr[2]) AS nv
         |         FROM corpn n JOIN cacell a USING (id)),
         |${pqBookCtes(", n0.cell", encFrom = "cnrm")},
         |qn AS (SELECT id AS query_id, nv AS qv FROM corpn WHERE id < 5),
         |probes AS (SELECT query_id, cell, qmu FROM (
         |  SELECT q.query_id, u.cid AS cell,
         |         ${dotx("q.qv", "u.uc")} AS qmu,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY ${rintx("(" + dotx("q.qv", "u.uc") + ") * 10000.0")} / 10000.0 DESC, u.cid) AS rn
         |  FROM qn q, ucent u) WHERE rn <= 10),
         |adcs AS (SELECT q.query_id, e.id AS cand_id,
         |                round(p.qmu + list_reduce(list_prepend(0.0,
         |                  list_transform(range(0, 8), sa ->
         |                    list_reduce(list_transform(list_zip(
         |                        q.qv[CAST(sa*8+1 AS INT):CAST(sa*8+8 AS INT)],
         |                        bks[CAST(sa + 1 AS INT)][CAST(e.codes[CAST(sa + 1 AS INT)] + 1 AS INT)]),
         |                      zz -> zz[1] * zz[2]), (xd, yd) -> xd + yd))),
         |                  (aa, xx) -> aa + xx), 4) AS adc
         |         FROM probes p
         |         JOIN enc e ON e.cell = p.cell
         |         JOIN qn q ON q.query_id = p.query_id
         |         CROSS JOIN bkl
         |         WHERE e.id != q.query_id$candCond),
         |sl AS (SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adc DESC, cand_id) AS rn
         |  FROM adcs) WHERE rn <= 300),
         |rr AS (SELECT s.query_id, s.cand_id,
         |              round(${cosx("q.qv", "e0.v")}, 4) AS score
         |       FROM sl s JOIN qn q USING (query_id)
         |       JOIN corp0 e0 ON e0.id = s.cand_id)""".stripMargin
    }

    /** The IVF search replay parameterized on probe width and an extra
      * candidate predicate — `sql` (nProbe=4, unfiltered) serves
      * q_ann_ivf / q_ann_index_search; `filteredSql` (nProbe=8,
      * cand_id % 3 = 1) serves q_ann_filtered, whose predicate applies
      * BEFORE ranking exactly like Similarity.searchIndex's filter. */
    private def searchSql(nProbe: Int, candCond: String = ""): String =
      s"""WITH RECURSIVE
         |${fitPrefix()},
         |emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings),
         |ascore AS (SELECT e.id, e.v, c.cid,
         |                  round(${cosx("e.v", "c.cv")}, 4) AS cs
         |           FROM emb e, cent c),
         |assigned AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore) WHERE rn = 1),
         |probes AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore WHERE id < 5) WHERE rn <= $nProbe),
         |pairs AS (SELECT p.id AS query_id, a.id AS cand_id,
         |                 round(${cosx("p.v", "a.v")}, 4) AS score
         |          FROM probes p JOIN assigned a USING (cid)
         |          WHERE a.id != p.id$candCond),
         |ranked AS (SELECT query_id, cand_id, score,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score DESC, cand_id) AS rank
         |           FROM pairs)
         |SELECT query_id, cand_id, score, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

    lazy val sql: String = searchSql(4)

    /** FULL cluster-balanced-sampling oracle (q_sample_cluster_balanced):
      * the shared fit replay, every vector's cell assignment, then the
      * md5-ordered top-20 per cluster — Spark's md5 hex string and
      * DuckDB's sort identically, so the exact sample rows are
      * recomputable and the cap/cover/subset properties hold by
      * construction of the replay (hash equality is strictly stronger
      * than the old pinned flags). */
    lazy val clusterSampleSql: String =
      s"""WITH RECURSIVE
         |${fitPrefix()},
         |emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings),
         |ascore AS (SELECT e.id, e.v, c.cid,
         |                  round(${cosx("e.v", "c.cv")}, 4) AS cs
         |           FROM emb e, cent c),
         |assigned AS (SELECT id, cid FROM (
         |  SELECT id, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore) WHERE rn = 1),
         |samp AS (SELECT cid AS centroid_id, id AS cand_id FROM (
         |  SELECT cid, id,
         |         row_number() OVER (PARTITION BY cid
         |           ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
         |  FROM assigned) WHERE rn <= 20)
         |SELECT centroid_id, cand_id FROM samp
         |ORDER BY centroid_id, cand_id""".stripMargin

    /** FULL two-stage MaxSim oracle (q_ann_maxsim_pruned AND
      * q_ann_maxsim_index — searchTokenIndex is row-identical to the
      * in-memory pruned search, MaxSimSpec pins it): the token corpus
      * as packed tids (doc_id·1024 + tok over m=8 subvector tokens),
      * the shared coarse-fit replay fitted OVER TOKENS, token-level ANN
      * candidate generation (nProbe=6 probed cells per query token,
      * per-token top-64 by integer-scaled cosine, id ties), and the
      * exact integer MaxSim re-rank of candidate documents to top-10 —
      * the complete replay with scores, no recall flag anywhere. */
    lazy val maxsimPrunedSql: String = maxsimTwoStageSql()

    /** FULL append-lifecycle oracle (q_ann_maxsim_index_append AND
      * q_stream_maxsim_index_replay — streamed batch dirs serve reads
      * identically to in-place appends): the perturbed batch's tokens
      * join the SEARCH corpus while the coarse fit stays on the
      * original tokens — exactly appendToIndex's
      * deliberately-no-refit trade. */
    lazy val maxsimAppendSql: String =
      maxsimTwoStageSql(batchInCorpus = true)

    /** FULL recenter-lifecycle oracle (q_ann_maxsim_index_recenter):
      * the quantizer refits over the stored UNION (recenterTokenIndex
      * reads the model-independent token store), and the search runs
      * over the same union. */
    lazy val maxsimRecenterSql: String =
      maxsimTwoStageSql(batchInCorpus = true, batchInFit = true)

    /** FULL two-phase deletion oracle (q_ann_maxsim_index_delete): the
      * same two-stage replay with the formula delete set
      * (doc_id % 17 = 3 AND doc_id < 1700) excluded from the DOC-TOKEN
      * side before the per-query-token top-64 window — exactly the
      * ledger's semantics (a tombstoned document neither seeds
      * candidates nor occupies a slot; the coarse fit stands, deletion
      * never refits). Two phases of identical rows: the
      * tombstone-masked search and the post-vacuum search must agree
      * row for row, so the ledger anti-join AND the physical
      * partition-selective rewrite hash against one replay. */
    lazy val maxsimDeleteSql: String = maxsimTwoStageSql(
      tokenCond = "WHERE NOT (id // 1024 % 17 = 3 AND id // 1024 < 1700)",
      phases = "'tombstoned', 'vacuumed'")

    /** The two-stage MaxSim replay, parameterized for the lifecycle
      * variants: `batchInCorpus` unions the standard perturbed batch's
      * tokens into the SEARCH corpus (append / streamed-ingest gates);
      * `batchInFit` also refits the coarse quantizer over the union
      * (the recenter gate — recenterTokenIndex refits from the stored
      * union, while plain append deliberately keeps the standing
      * cells); `tokenCond` excludes tombstoned documents' tokens
      * before the candidate window (the delete gate); `phases`
      * cross-joins the final rows (multi-phase gates). */
    private def maxsimTwoStageSql(tokenCond: String = "",
                                  phases: String = "",
                                  batchInCorpus: Boolean = false,
                                  batchInFit: Boolean = false): String = {
      def i4(c: String): String =
        s"CASE WHEN ($c) * 10000.0 >= 0" +
          s" THEN CAST(floor(($c) * 10000.0 + 0.5) AS BIGINT)" +
          s" ELSE CAST(ceil(($c) * 10000.0 - 0.5) AS BIGINT) END"
      val fitSrc = if (batchInFit) "utok" else "dtok"
      val corpusSrc = if (batchInCorpus) "utok" else "dtok"
      s"""WITH RECURSIVE
         |dtok AS (SELECT vec_id * 1024 + tk.tok AS vec_id,
         |                CAST(embedding AS DOUBLE[])
         |                  [(tk.tok*8+1):(tk.tok*8+8)] AS embedding
         |         FROM embeddings,
         |              (SELECT unnest(range(8)) AS tok) tk),
         |utok AS (SELECT vec_id, embedding FROM dtok
         |         UNION ALL
         |         SELECT (vec_id + 1000000) * 1024 + tk.tok AS vec_id,
         |                (list_concat([CAST(embedding AS DOUBLE[])[1]
         |                                + 0.1],
         |                             CAST(embedding AS DOUBLE[])[2:64]))
         |                  [(tk.tok*8+1):(tk.tok*8+8)] AS embedding
         |         FROM embeddings,
         |              (SELECT unnest(range(8)) AS tok) tk
         |         WHERE vec_id < 20),
         |${fitPrefix(fitSrc)},
         |ctok AS (SELECT vec_id AS id,
         |                CAST(embedding AS DOUBLE[]) AS v
         |         FROM $corpusSrc),
         |tsc AS MATERIALIZED (SELECT e.id, e.v, c.cid,
         |               round(${cosx("e.v", "c.cv")}, 4) AS cs
         |        FROM ctok e, cent c),
         |tasg AS MATERIALIZED (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM tsc $tokenCond) WHERE rn = 1),
         |tprb AS (SELECT id AS qtid, v AS qv, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM tsc WHERE id // 1024 < 3) WHERE rn <= 6),
         |cand AS MATERIALIZED (SELECT DISTINCT qtid // 1024 AS query_id,
         |                         tid // 1024 AS doc_id FROM (
         |  SELECT p.qtid, a.id AS tid,
         |         row_number() OVER (PARTITION BY p.qtid
         |           ORDER BY ${i4(cosx("p.qv", "a.v"))} DESC, a.id) AS tr
         |  FROM tprb p JOIN tasg a USING (cid))
         |  WHERE tr <= 64 AND qtid // 1024 != tid // 1024),
         |qt AS (SELECT id // 1024 AS query_id, id % 1024 AS tok, v AS qv
         |       FROM ctok WHERE id // 1024 < 3),
         |dt AS (SELECT id // 1024 AS doc_id, v AS dv FROM ctok),
         |pr AS (SELECT c.query_id, qt.tok, c.doc_id,
         |              ${i4(cosx("qt.qv", "dt.dv"))} AS ci
         |       FROM cand c
         |       JOIN qt ON qt.query_id = c.query_id
         |       JOIN dt ON dt.doc_id = c.doc_id),
         |mx AS (SELECT query_id, tok, doc_id, max(ci) AS m
         |       FROM pr GROUP BY query_id, tok, doc_id),
         |sc AS (SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS si4
         |       FROM mx GROUP BY query_id, doc_id),
         |rk AS (SELECT query_id, doc_id,
         |              CAST(si4 AS DOUBLE) / 10000.0 AS score,
         |              row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY si4 DESC, doc_id)
         |                AS rank
         |       FROM sc)
         |${if (phases.isEmpty)
             "SELECT query_id, doc_id, score, rank FROM rk\n" +
             "WHERE rank <= 10 ORDER BY query_id, rank"
           else
             "SELECT pp.phase, query_id, doc_id, score, rank\n" +
             s"FROM rk CROSS JOIN (SELECT unnest([$phases]) AS phase) pp\n" +
             "WHERE rank <= 10 ORDER BY phase, query_id, rank"}""".stripMargin
    }

    /** FULL-ROW filtered-search oracle (q_ann_filtered): predicate +
      * vector search, the predicate applied before ranking — the
      * complete replay, no recall flag. */
    lazy val filteredSql: String = searchSql(8, " AND a.id % 3 = 1")

    /** Append-lifecycle oracle: the SAME fit replay (the quantizer is
      * deliberately NOT refit on append — centroids come from the
      * original corpus only), but candidates are the original corpus
      * UNION the appended batch (first-component +0.1 perturbations of
      * vec_id < 20, landed at vec_id + 1000000). Probes still rank over
      * everything the index stores, so a search after appendToIndex
      * must surface the new vectors exactly where the in-SQL replay
      * puts them. */
    lazy val appendSql: String =
      s"""WITH RECURSIVE
         |${fitPrefix()},
         |emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings
         |        UNION ALL
         |        SELECT vec_id + 1000000,
         |               list_concat([CAST(embedding AS DOUBLE[])[1] + 0.1],
         |                           CAST(embedding AS DOUBLE[])[2:64])
         |        FROM embeddings WHERE vec_id < 20),
         |ascore AS (SELECT e.id, e.v, c.cid,
         |                  round(${cosx("e.v", "c.cv")}, 4) AS cs
         |           FROM emb e, cent c),
         |assigned AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore) WHERE rn = 1),
         |probes AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore WHERE id < 5) WHERE rn <= 4),
         |pairs AS (SELECT p.id AS query_id, a.id AS cand_id,
         |                 round(${cosx("p.v", "a.v")}, 4) AS score
         |          FROM probes p JOIN assigned a USING (cid)
         |          WHERE a.id != p.id),
         |ranked AS (SELECT query_id, cand_id, score,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score DESC, cand_id) AS rank
         |           FROM pairs)
         |SELECT query_id, cand_id, score, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

    /** Single-phase filtered replay: candidates minus the formula delete
      * set, quantizer untouched — the post-delete search contract of
      * the streaming ledger (q_stream_delete_replay uses it as-is). The
      * delete set is id-BOUNDED (% 17 = 3 AND id < 1700) so the
      * streaming gate's MemoryStream feed stays a fixed-size fixture at
      * any sf — at the verify sf every id is under the bound, so the
      * bound is invisible there. */
    lazy val streamDeleteSql: String = sql
      .replace("WHERE a.id != p.id",
        "WHERE a.id != p.id AND NOT (a.id % 17 = 3 AND a.id < 1700)")

    /** Delete-WITH-DEBT lifecycle oracle (q_ann_index_delete): the
      * APPEND replay's union corpus (base ∪ the standard perturbed
      * batch at +1000000 — the gate lands it as a LIVE streaming batch
      * dir, so the vacuum exercises the fused fold∖ledger debt path)
      * minus the formula delete set on BOTH sides: the base formula
      * (id % 17 = 3 AND id < 1700) and its echo in the batch (id ≥ 10⁶
      * with (id − 10⁶) % 17 = 3 — a streamed-then-deleted vector that
      * dies before ever being folded). Tombstones never touch the
      * quantizer, and a deleted id may still query — it just can't be
      * retrieved. Two phases of identical rows: the tombstone-masked
      * pre-vacuum search (base ∪ live batch dir ∖ ledger) and the
      * post-vacuum search (one fused rewrite) must agree row for row,
      * so the ledger mask, the fold, and the purge are pinned by one
      * hash. */
    lazy val deleteSql: String = appendSql
      .replace("WHERE a.id != p.id",
        "WHERE a.id != p.id AND NOT (a.id % 17 = 3 AND a.id < 1700)" +
          " AND NOT (a.id >= 1000000 AND (a.id - 1000000) % 17 = 3)")
      .replace(
        "SELECT query_id, cand_id, score, rank FROM ranked\n" +
          "WHERE rank <= 10 ORDER BY query_id, rank",
        "SELECT ph.phase, query_id, cand_id, score, rank FROM ranked\n" +
          "CROSS JOIN (SELECT unnest(['tombstoned', 'vacuumed']) AS phase)" +
          " ph\nWHERE rank <= 10 ORDER BY phase, query_id, rank")

    /** Recenter-lifecycle oracle: recenterIndex REFITS the quantizer
      * from the vectors THE INDEX STORES (original corpus + appended
      * batch), so the whole fit replay runs over that union; assignment
      * and probe rank the same union under the NEW cells. */
    lazy val recenterSql: String =
      s"""WITH RECURSIVE
         |u0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
         |       FROM embeddings
         |       UNION ALL
         |       SELECT vec_id + 1000000,
         |              list_concat([CAST(embedding AS DOUBLE[])[1] + 0.1],
         |                          CAST(embedding AS DOUBLE[])[2:64])
         |       FROM embeddings WHERE vec_id < 20),
         |${fitPrefix("u0")},
         |emb AS (SELECT vec_id AS id, embedding AS v FROM u0),
         |ascore AS (SELECT e.id, e.v, c.cid,
         |                  round(${cosx("e.v", "c.cv")}, 4) AS cs
         |           FROM emb e, cent c),
         |assigned AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore) WHERE rn = 1),
         |probes AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore WHERE id < 5) WHERE rn <= 4),
         |pairs AS (SELECT p.id AS query_id, a.id AS cand_id,
         |                 round(${cosx("p.v", "a.v")}, 4) AS score
         |          FROM probes p JOIN assigned a USING (cid)
         |          WHERE a.id != p.id),
         |ranked AS (SELECT query_id, cand_id, score,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score DESC, cand_id) AS rank
         |           FROM pairs)
         |SELECT query_id, cand_id, score, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

    /** SemDeDup oracle: the same fit replay, then assignment of the
      * AUGMENTED corpus (planted near-dups — see q_dedup_embed) and a
      * within-cluster pairwise prune at rounded cosine >= 0.99, dropping
      * the higher id of every qualifying pair. `list_cosine_similarity`
      * for the pairwise leg mirrors Dedup.embeddingNearDupPairs (proven
      * 4-dp-equal in q_dedup_embed); the fold-cosine `cosx` form mirrors
      * Similarity's assignment internals. */
    lazy val semanticSql: String =
      s"""WITH RECURSIVE
         |${fitPrefix()},
         |base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |         FROM embeddings WHERE vec_id < 50),
         |aug AS (SELECT vec_id, v FROM base
         |        UNION ALL
         |        SELECT vec_id + 100000, list_transform(v, x -> x * 2.0)
         |        FROM base WHERE vec_id < 25
         |        UNION ALL
         |        SELECT vec_id + 100000, list_concat([v[1] + 0.1], v[2:64])
         |        FROM base WHERE vec_id >= 25),
         |ascore2 AS (SELECT a.vec_id AS id, a.v, c.cid,
         |                   round(${cosx("a.v", "c.cv")}, 4) AS cs
         |            FROM aug a, cent c),
         |asg2 AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY cs DESC, cid) AS rn
         |  FROM ascore2) WHERE rn = 1),
         |dropped AS (SELECT DISTINCT y.id FROM asg2 x JOIN asg2 y
         |            ON x.cid = y.cid AND x.id < y.id
         |            WHERE round(list_cosine_similarity(x.v, y.v), 4) >= 0.99)
         |SELECT a.id AS vec_id, CAST(a.cid AS INT) AS cid,
         |       (d.id IS NULL) AS keep
         |FROM asg2 a LEFT JOIN dropped d USING (id)
         |ORDER BY vec_id""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Exact brute-force cosine top-k: the correctness baseline for ANN.
    Q("q_ann_brute",
      """WITH q AS (SELECT vec_id AS query_id,
        |                  CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS cand_id,
        |         round(list_cosine_similarity(qv,
        |               CAST(e.embedding AS DOUBLE[])), 4) AS score
        |  FROM q, embeddings e WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, cand_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, cand_id) AS rank
        |  FROM scored)
        |SELECT query_id, cand_id, score, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), k = 10)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
    },

    // Binary-quantized retrieval (Similarity.hammingTopK): 64-bit
    // hyperplane sign sketch per vector (8 bytes — a 64× scan reduction
    // over the float64 vectors), per-query Hamming shortlist (integer
    // distance, id tiebreak, partial WindowGroupLimit below the
    // exchange), exact rounded-cosine re-rank of the 50-deep shortlist.
    // FULLY hash-gated, not recall-flagged: every stage is
    // deterministic, so the oracle (SketchReplay.hammingTopKSql —
    // plane table, sign folds, xor/popcount, both windows) replays the
    // pipeline end-to-end and can fail on any divergence.
    Q("q_ann_hamming", SketchReplay.hammingTopKSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.hammingTopK(emb, emb.where(col("vec_id") < 5), k = 10,
          shortlist = 50)
        .withColumn("hamming", col("hamming").cast("long"))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // The PERSISTED form (operators.SketchIndex — the sixth index kind
    // on the shared lifecycle contracts): sketches computed once at
    // write time into an 8-bytes-per-vector dataset (the first stage
    // scans THAT, not the float vectors — the 64× reduction is
    // materialized, not recomputed per query), full vectors bucketed by
    // id hash and fetched for the shortlist only. Search is
    // row-identical to the in-memory pipeline (spec-pinned), so this
    // gate shares the SAME hash-exact DuckDB oracle — no recall flag.
    Q("q_ann_hamming_index", SketchReplay.hammingTopKSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      // search-only: reads the shared clean-index snapshot directly
      val idxDir = IndexFixtures.shared(s, dir, "sketch")(
        buildSketch(s, dir))
      graft.operators.SketchIndex.searchIndex(s, idxDir,
          emb.where(col("vec_id") < 5), k = 10, shortlist = 50)
        .withColumn("hamming", col("hamming").cast("long"))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // IndexStats-driven cadence maintenance (IndexMaintenance.maintain):
    // the out-of-band pass that CONSUMES the IndexStats readout — three
    // streamed-shape batch dirs + two tombstones put the index over
    // both thresholds, one maintain() folds the dirs and vacuums the
    // ledger (vacuum subsumes compaction), a second maintain() finds
    // nothing due and does nothing. Search results are IDENTICAL before
    // (debt: live dirs unioned, tombstones masked) and after
    // (maintained: folded, physical) — BOTH phases hash against ONE
    // DuckDB replay of the full retrieval stack over
    // embeddings∖deletes ∪ batches, so the equivalence is
    // oracle-gated, not self-certified.
    Q("q_index_maintenance", SketchReplay.hammingTopKSqlOver(
      """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |          FROM embeddings WHERE vec_id NOT IN (40, 41)
        |          UNION ALL
        |          SELECT vec_id + 1000000,
        |                 list_concat([CAST(embedding AS DOUBLE[])[1] + 0.1],
        |                             CAST(embedding AS DOUBLE[])[2:64])
        |          FROM embeddings WHERE vec_id < 20""".stripMargin,
      phaseSql = "'debt', 'maintained'")) { (s, dir) =>
      import graft.operators.{IndexBatches, IndexMaintenance, SketchIndex}
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val idxDir = IndexFixtures.cloned(s, dir, "sketch")(
        buildSketch(s, dir))
      val batch = perturbedBatch(emb)
      for ((lo, hi, b) <- Seq((0, 10, 0L), (10, 20, 1L)))
        SketchIndex.appendBatchDir(
          batch.where(col("vec_id") >= 1000000L + lo &&
            col("vec_id") < 1000000L + hi), idxDir, "crawl", b)
      SketchIndex.deleteFromIndex(Seq(40L, 41L).toDF("vec_id"), idxDir)
      val qs = emb.where(col("vec_id") < 5)
      def search() = SketchIndex.searchIndex(s, idxDir, qs, k = 10,
          shortlist = 50)
        .withColumn("hamming", col("hamming").cast("long"))
        .withColumn("rank", col("rank").cast("long"))
      val pre = StagingCaches.checkpointed(
        search().withColumn("phase", lit("debt")))
      val rep = IndexMaintenance.maintain(s, idxDir, "sketch",
        maxLiveBatches = 1, maxTombstones = 1)
      require(rep.compactionDue && rep.vacuumDue && rep.vacuumedRows == 2L,
        s"maintenance pass did not consume the planted debt: $rep")
      require(IndexBatches.live(s, idxDir, "sketches").isEmpty,
        "cadence pass left live batch dirs standing")
      val idle = IndexMaintenance.maintain(s, idxDir, "sketch",
        maxLiveBatches = 1, maxTombstones = 1)
      require(!idle.compactionDue && !idle.vacuumDue && !idle.compacted,
        s"idle maintenance pass found phantom debt: $idle")
      pre.unionByName(search().withColumn("phase", lit("maintained")))
        .select("phase", "query_id", "cand_id", "hamming", "score", "rank")
        .orderBy("phase", "query_id", "rank")
    },

    // The warehouse janitor (IndexMaintenance.sweep): ONE pass over a
    // root holding all six index kinds plus a non-index dataset pays
    // every due debt under one policy — the 100 TB serving-tier shape
    // (dozens of indexes, no cron entry per index). The gate plants
    // mixed debt (sketch: 2 live batch dirs over the compaction
    // threshold; ivf/bm25: tombstones over the vacuum threshold;
    // ivfpq/maxsim/phrase: idle), sweeps once, and emits one row per index:
    // the sweep's own report (what was due, what was paid, rows
    // vacuumed) plus post-sweep due flags re-read from IndexStats and a
    // search-equality flag (pre-sweep ledger-masked searches collected
    // and compared against post-sweep physical reads in-body — a
    // mismatch fails the gate loudly before the oracle ever sees it).
    // The oracle derives every count from the same corpora: the ANN
    // vacuums remove exactly the tombstoned vectors present in the
    // 60-vector corpus; the bm25 vacuum removes the deleted documents'
    // distinct-term posting rows, replayed through the same tokenizer.
    Q("q_warehouse_sweep",
      s"""WITH tk AS (SELECT doc_id, ${TextQueries.sqlToks} AS toks
         |            FROM (SELECT doc_id, text FROM documents
         |                  ORDER BY doc_id LIMIT 40)),
         |bm AS (SELECT count(*) AS vr FROM (
         |         SELECT DISTINCT doc_id, unnest(toks) AS term FROM tk
         |         WHERE doc_id IN (3, 9))),
         |ann AS (SELECT count(*) AS vr FROM embeddings
         |        WHERE vec_id IN (7, 11) AND vec_id < 60)
         |SELECT 'bm25' AS kind, false AS compaction_due,
         |       true AS vacuum_due, false AS compacted,
         |       (SELECT vr FROM bm) AS vacuumed_rows,
         |       false AS post_compaction_due, false AS post_vacuum_due,
         |       true AS searches_identical
         |UNION ALL SELECT 'ivf', false, true, false,
         |       (SELECT vr FROM ann), false, false, true
         |UNION ALL SELECT 'ivfpq', false, false, false,
         |       CAST(0 AS BIGINT), false, false, true
         |UNION ALL SELECT 'maxsim', false, false, false,
         |       CAST(0 AS BIGINT), false, false, true
         |UNION ALL SELECT 'phrase', false, false, false,
         |       CAST(0 AS BIGINT), false, false, true
         |UNION ALL SELECT 'sketch', true, false, true,
         |       CAST(0 AS BIGINT), false, false, true
         |ORDER BY kind""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.{Bm25, IndexMaintenance, IndexStats,
        SketchIndex}
      val emb = t(s, dir, "embeddings").where(col("vec_id") < 60)
      // per-invocation idempotence at clone cost, not rebuild cost: the
      // six tiny indexes AND their planted debt are deterministic
      // writes, so the debted warehouse is memoized once per JVM
      // (fixture kind "warehouse", prewarmed by warmStaging) and
      // hardlink-cloned here — the gate pays for the SWEEP, not for
      // rebuilding what the sweep maintains
      val root = IndexFixtures.cloned(s, dir, "warehouse")(
        buildWarehouse(s, dir))
      // the invariant the sweep must preserve: debt-phase searches
      // (live dirs unioned, tombstones ledger-masked) equal the
      // post-sweep physical reads bit for bit. Attested on the
      // compacted kind (sketch) and a vacuumed text kind (bm25) — the
      // four-kind equality is pinned by IndexMaintenanceRegistrySpec;
      // re-attesting all kinds here would double the gate's search jobs
      // for coverage the suite already has.
      val qs = emb.where(col("vec_id") < 3)
      val terms = Seq((1L, "spark"), (2L, "customer"))
        .toDF("query_id", "term")
      def searches(): Map[String, Seq[String]] = Map(
        "sketch" -> SketchIndex.searchIndex(s, s"$root/idx_sketch", qs,
          k = 10, shortlist = 50).collect().map(_.toString).sorted.toSeq,
        "bm25" -> Bm25.searchIndex(s, s"$root/idx_bm25", terms, k = 10)
          .collect().map(_.toString).sorted.toSeq)
      val before = searches()
      val entries = IndexMaintenance.sweep(s, root,
        maxLiveBatches = 1, maxTombstones = 1)
      require(entries.size == 6 &&
          entries.map(_.kind).toSet == IndexMaintenance.kinds.keySet,
        s"sweep did not visit exactly the six indexes: $entries")
      require(entries.forall(e => e.dir.endsWith(s"idx_${e.kind}")),
        s"kind detection mismatched a directory: $entries")
      val identical = searches() == before
      require(identical, "the janitor sweep changed search results")
      val rows = entries.map { e =>
        val k = IndexMaintenance.kinds(e.kind)
        val (pc, pv) = IndexStats.due(s, e.dir, k.datasets,
          maxLiveBatches = 1, maxTombstones = 1,
          markerDataset = Some(k.marker))
        (e.kind, e.report.compactionDue, e.report.vacuumDue,
          e.report.compacted, e.report.vacuumedRows, pc, pv, identical)
      }
      rows.toDF("kind", "compaction_due", "vacuum_due", "compacted",
          "vacuumed_rows", "post_compaction_due", "post_vacuum_due",
          "searches_identical")
        .orderBy("kind")
    },

    // Hard-negative mining (Similarity.hardNegativeTopK): the top-k
    // most-similar candidates per query EXCLUDING near-duplicates
    // (rounded score >= 0.99 — positives/leakage, not negatives). The
    // fixture is the planted-near-dup corpus of q_dedup_embed: the ×2
    // scaled copies score exactly 1.0 against their originals and MUST
    // be excluded, so the dup-exclusion branch gates alongside the hard
    // band that survives.
    Q("q_sample_hard_negatives",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings WHERE vec_id < 50),
        |aug AS (SELECT vec_id, v FROM base
        |        UNION ALL
        |        SELECT vec_id + 100000, list_transform(v, x -> x * 2.0)
        |        FROM base WHERE vec_id < 25
        |        UNION ALL
        |        SELECT vec_id + 100000, list_concat([v[1] + 0.1], v[2:64])
        |        FROM base WHERE vec_id >= 25),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM base
        |      WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, a.vec_id AS cand_id,
        |         round(list_cosine_similarity(qv, a.v), 4) AS score
        |  FROM q, aug a WHERE a.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, cand_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, cand_id) AS rank
        |  FROM scored WHERE score < 0.99)
        |SELECT query_id, cand_id, score, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        val aug = augmentedEmbeddings(s, dir)
          .select(col("vec_id"), col("v").as("embedding"))
        Similarity.hardNegativeTopK(aug,
            aug.where(col("vec_id") < 5), k = 10)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
    },

    // IVF ANN: k-means coarse quantizer + multi-probe search — the scale
    // path. Approximate relative to brute force but fully DETERMINISTIC,
    // and since round 7 fully ORACLED: IvfReplay regenerates the entire
    // path (xxhash64 sample order, farthest-point seed, 5 Lloyd
    // iterations with half-even re-rounding, argmax assignment, 4-probe
    // ranked search) in DuckDB SQL and hash-matches every row. The
    // recall floor vs brute force stays gated by q_ann_ivf_recall.
    Q("q_ann_ivf", IvfReplay.sql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5), k = 10,
          nClusters = 16, nProbe = 4, centroids = Some(centroids(s, dir)))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // The PERSISTED index lifecycle through the driver hash: writeIndex
    // (deterministic fit + partitioned inverted-file layout on disk) then
    // searchIndex reading ONLY centroids + probed cluster directories —
    // gated against the SAME full-fit SQL replay as q_ann_ivf, so the
    // on-disk round trip (including the partitionBy(centroid_id) layout
    // and the probe path) must be result-identical to the in-memory
    // operator, row for row.
    Q("q_ann_index_search", IvfReplay.sql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      // search-only: reads the shared clean-index snapshot directly
      val idxDir = IndexFixtures.shared(s, dir, "ivf")(buildIvf(s, dir))
      Similarity.searchIndex(s, idxDir, emb.where(col("vec_id") < 5),
          k = 10, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // FILTERED search on the persisted IVF index (searchIndex's filter
    // param): predicate + vector search — "nearest neighbors WITHIN a
    // category". The predicate applies before ranking (a failing
    // candidate never occupies a shortlist slot, so the result is the
    // top-k OF the filtered slice) and pushes to the assignment scans.
    // FULLY ROW-HASHED (converted from TRUE flags at r16): the oracle
    // replays the filtered IVF search end to end — the shared fit
    // replay at nProbe=8 with the cand_id % 3 = 1 predicate applied
    // before ranking, exactly like the operator — so the gate hashes
    // query/candidate/score/rank, no recall flag. (The exact filtered
    // baseline stays separately hash-gated by q_ann_filtered_baseline10
    // below for the spec-level recall property.)
    Q("q_ann_filtered", IvfReplay.filteredSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val idxDir = IndexFixtures.shared(s, dir, "ivf")(buildIvf(s, dir))
      Similarity.searchIndex(s, idxDir,
          emb.where(col("vec_id") < 5), k = 10, nProbe = 8,
          filter = Some(col("cand_id") % 3 === 1))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // The filtered-slice exact baseline, independently recomputed by the
    // oracle — q_ann_filtered measures against this memoized frame, so
    // it is hashed against a DuckDB brute top-10 over the same
    // vec_id % 3 = 1 slice.
    Q("q_ann_filtered_baseline10",
      """WITH q AS (SELECT vec_id AS query_id,
        |                  CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS cand_id,
        |         round(list_cosine_similarity(qv,
        |               CAST(e.embedding AS DOUBLE[])), 4) AS score
        |  FROM q, embeddings e
        |  WHERE e.vec_id != q.query_id AND e.vec_id % 3 = 1),
        |ranked AS (
        |  SELECT query_id, cand_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, cand_id) AS rank
        |  FROM scored)
        |SELECT query_id, cand_id, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        filteredBrute10(s, dir).orderBy("query_id", "rank")
    },

    // Incremental index growth through the driver hash
    // (Similarity.appendToIndex): writeIndex over the corpus, append a
    // perturbed batch against the STANDING centroids (quantizer
    // deliberately not refit — the production IVF contract), search.
    // The oracle reruns the full fit replay with the batch unioned into
    // the candidates, so the appended vectors must surface exactly where
    // the SQL puts them — through the on-disk partitioned layout.
    // writeIndex's overwrite makes the gate idempotent per invocation
    // (bench reps never double-append).
    Q("q_ann_index_append", IvfReplay.appendSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      // appends mutate: a private clone of the clean snapshot
      val idxDir = IndexFixtures.cloned(s, dir, "ivf")(buildIvf(s, dir))
      Similarity.appendToIndex(perturbedBatch(emb), idxDir)
      Similarity.searchIndex(s, idxDir, emb.where(col("vec_id") < 5),
          k = 10, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // Out-of-band quantizer refresh through the driver hash
    // (Similarity.recenterIndex): write + append + RECENTER — the refit
    // samples from the vectors the index stores, both directories swap
    // crash-safely — then search under the new cells. The oracle reruns
    // the entire k-means replay over the appended union, so the refit's
    // sample order, Lloyd folds, and the staged double swap must all
    // land exactly where the SQL does.
    Q("q_ann_index_recenter", IvfReplay.recenterSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val idxDir = IndexFixtures.cloned(s, dir, "ivf")(buildIvf(s, dir))
      Similarity.appendToIndex(perturbedBatch(emb), idxDir)
      Similarity.recenterIndex(s, idxDir, nClusters = 16).collect()
      Similarity.searchIndex(s, idxDir, emb.where(col("vec_id") < 5),
          k = 10, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // Index deletion lifecycle WITH COMPACTION DEBT through the driver
    // hash (Similarity.deleteFromIndex / vacuumIndex — the
    // training-data right-to-be-forgotten op, exercised on the FUSED
    // fold∖ledger debt path): clone the clean index, land the standard
    // perturbed batch as a LIVE streaming batch dir (appendBatchDir —
    // deliberately NOT folded), tombstone the formula set on the base
    // corpus PLUS its echo in the batch (a streamed-then-deleted
    // vector), search; then VACUUM — with live batch dirs the purge
    // fuses into the fold, one staged rewrite covering base ∪ batch ∖
    // ledger — and search again. Both phases must hash-match the same
    // filtered union replay — the ledger mask over live batch dirs,
    // the fold, and the purge pinned by one oracle. A deleted id may
    // still query (id 3 does); it just can't be retrieved.
    Q("q_ann_index_delete", IvfReplay.deleteSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      // a fresh private clone of the shared clean-index snapshot keeps
      // the gate idempotent per invocation (bench reps never
      // double-delete) without re-paying writeIndex per invocation
      val idxDir = IndexFixtures.cloned(s, dir, "ivf")(buildIvf(s, dir))
      Similarity.appendBatchDir(perturbedBatch(emb), idxDir, "debt", 0L)
      Similarity.deleteFromIndex(
        emb.where(col("vec_id") % 17 === 3 && col("vec_id") < 1700)
          .select("vec_id")
          .union(perturbedBatch(emb)
            .where((col("vec_id") - 1000000) % 17 === 3)
            .select("vec_id")), idxDir)
      def search(phase: String) =
        Similarity.searchIndex(s, idxDir, emb.where(col("vec_id") < 5),
            k = 10, nProbe = 4)
          .withColumn("rank", col("rank").cast("long"))
          .withColumn("phase", lit(phase))
      val tombstoned = search("tombstoned")
      // materialize pre-vacuum, release-tracked
      val before = StagingCaches.checkpointed(tombstoned)
      Similarity.vacuumIndex(s, idxDir)
      before.unionByName(search("vacuumed"))
        .select("phase", "query_id", "cand_id", "score", "rank")
        .orderBy("phase", "query_id", "rank")
    },

    // STREAMING index deletion through the driver hash
    // (EventStreams.tombstoneSink): two one-shot foreachBatch queries land
    // delete requests in batch-scoped ledger datasets (overwrite by
    // (tag, batchId) — exactly-once by placement), splitting the
    // formula set (vec_id % 17 = 3) across streams; the post-stream
    // search must hash-match the single-phase filtered fit replay, so
    // ledger batch boundaries must not be visible. The index dir is
    // wiped first, making the gate idempotent per invocation.
    Q("q_stream_delete_replay", IvfReplay.streamDeleteSql) { (s, dir) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = t(s, dir, "embeddings")
      val idxDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_ivf_index_streamdel",
        dir.replace('/', '_').replace(':', '_')).toString
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
      Similarity.writeIndex(emb, idxDir, nClusters = 16)
      import s.implicits._
      def feed(pred: org.apache.spark.sql.Column, tag: String): Unit = {
        // the id bound keeps this fixture feed fixed-size at any sf (a
        // MemoryStream collect must never scale with the table); the
        // oracle's delete set carries the same bound
        val rows = emb
          .where(col("vec_id") % 17 === 3 && col("vec_id") < 1700 && pred)
          .select("vec_id").as[Long].collect().toSeq
        val src = MemoryStream[Long]
        src.addData(rows: _*)
        graft.streaming.EventStreams.tombstoneSink(
            src.toDF().toDF("vec_id"), idxDir, tagOverride = Some(tag))
          .awaitTermination()
      }
      feed(col("vec_id") < 250, "purge-a")
      feed(col("vec_id") >= 250, "purge-b")
      Similarity.searchIndex(s, idxDir, emb.where(col("vec_id") < 5),
          k = 10, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // STREAMING index ingestion through the driver hash
    // (EventStreams.indexSink): a real foreachBatch query lands each
    // micro-batch in an idempotent batch-scoped directory under the
    // index (overwrite by (tag, batchId) — exactly-once by placement),
    // and searchIndex unions live batch dirs transparently. Two one-shot
    // streams feed the same perturbed batch q_ann_index_append uses
    // (split 0-9 / 10-19), so the post-stream search must hash-match the
    // SAME full-fit SQL replay — batch boundaries must not be visible in
    // the result. The index dir is wiped first, making the gate
    // idempotent per invocation.
    Q("q_stream_index_replay", IvfReplay.appendSql) { (s, dir) =>
      import graft.functions.VectorFunctions.asDouble
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = t(s, dir, "embeddings")
      val idxDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_ivf_index_stream",
        dir.replace('/', '_').replace(':', '_')).toString
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
      Similarity.writeIndex(emb, idxDir, nClusters = 16)
      val v = asDouble(col("embedding"))
      import s.implicits._
      def feed(lo: Long, hi: Long, tag: String): Unit = {
        val rows = emb.where(col("vec_id") >= lo && col("vec_id") < hi)
          .select((col("vec_id") + 1000000).as("vec_id"),
            concat(array(element_at(v, 1) + 0.1), slice(v, 2, 63))
              .as("embedding"))
          .as[(Long, Seq[Double])].collect().toSeq
        val src = MemoryStream[(Long, Seq[Double])]
        src.addData(rows: _*)
        graft.streaming.EventStreams.indexSink(Similarity,
            src.toDF().toDF("vec_id", "embedding"), idxDir,
            tagOverride = Some(tag))
          .awaitTermination()
      }
      feed(0L, 10L, "crawl-a")
      feed(10L, 20L, "crawl-b")
      Similarity.searchIndex(s, idxDir, emb.where(col("vec_id") < 5),
          k = 10, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // IVF recall contract, ROW-HASHED (converted from TRUE flags at
    // r16): the gate emits the per-query HIT COUNTS of the IVF path
    // (nProbe=8) against the brute-force top-10, and the oracle
    // independently RECOMPUTES both pipelines — the full k-means fit
    // replay (xxhash64 sample order, farthest-point init, Lloyd) at
    // nProbe=8 plus the exact cosine baseline — so any recall movement
    // in either direction fails the hash. This is strictly tighter
    // than the old >=0.2/>=0.5 flags: the measurement itself is now
    // the contract. Fully deterministic on both engines: rounded
    // scores, id tiebreaks, integer hit counts.
    Q("q_ann_ivf_recall", IvfReplay.recallSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 5)
      // the memoized top-30 baseline's prefix (localCheckpoint) feeds
      // both the hit join and the per-query denominator
      val exact = bruteExact10(s, dir)
      val approx = Similarity.ivfTopK(emb, qs, k = 10,
        nClusters = 16, nProbe = 8,
        centroids = Some(centroids(s, dir))).select("query_id", "cand_id")
      recallCounts(exact, approx)
    },

    // Product-quantization ANN (ADC + exact re-rank) recall contract,
    // ROW-HASHED (converted from TRUE flags at r16, like
    // q_ann_ivf_recall): the gate emits per-query HIT COUNTS of the PQ
    // path (m=8 subspaces, 16-entry L2 codebooks per subspace,
    // 100-candidate ADC shortlist re-ranked by exact cosine) against
    // the brute top-10, and the oracle RECOMPUTES the whole pipeline —
    // l2-normalize, xxhash64 sample order, per-subspace farthest-point
    // init, 5 L2 Lloyd rounds, nearest-code encoding, ADC tables,
    // shortlist, exact re-rank — plus the baseline, in DuckDB. Fully
    // deterministic on both engines: half-even 1e-6 fit rounding,
    // sample-order summation, first-minimum assignment ties, rounded
    // scores, id tiebreaks.
    Q("q_ann_pq_recall", IvfReplay.pqRecallSql) { (s, dir) =>
      import graft.operators.ProductQuant
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 5)
      val exact = bruteExact10(s, dir)
      val approx = ProductQuant.pqTopK(emb, qs,
          ProductQuant.fitCodebooks(emb), k = 10, rerank = 100)
        .select("query_id", "cand_id")
      recallCounts(exact, approx)
    },

    // IVF-PQ (IVFADC) recall contract — the composition of both ANN scale
    // levers (IVF cells for compute, PQ residual codes for memory/IO: the
    // billion-vector production layout; IvfPq.scala has the full shape).
    // ROW-HASHED (converted from TRUE flags at r16, completing the
    // family with q_ann_ivf_recall / q_ann_pq_recall): the gate emits
    // per-query HIT COUNTS of the IVFADC path (nProbe 10, rerank 300)
    // against the brute top-10, and the oracle RECOMPUTES the entire
    // stack — the shared coarse-fit replay, unit centroids, residuals,
    // per-subspace residual codebooks, probes with q̂·μ̂ offsets, ADC
    // over probed cells, exact re-rank — plus the baseline, in DuckDB.
    Q("q_ann_ivfpq_recall", IvfReplay.ivfpqRecallSql) { (s, dir) =>
      import graft.operators.IvfPq
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 5)
      val exact = bruteExact10(s, dir)
      val approx = IvfPq.ivfpqTopK(emb, qs, k = 10,
          nClusters = 16, nProbe = 10, rerank = 300,
          model = Some(pqModel(s, dir)))
        .select("query_id", "cand_id")
      recallCounts(exact, approx)
    },

    // The PERSISTED IVF-PQ index through the driver gate: writeIndex
    // (centroids + residual codebooks + codes AND vectors partitioned by
    // cell) then searchIndex, whose ADC pass reads ONLY the probed
    // cells' CODE files (16× smaller than the vectors; the partition
    // filter is pinned by IvfPqSpec) and whose re-rank reads probed-cell
    // vectors filtered to the broadcast shortlist. FULLY ROW-HASHED
    // (converted from TRUE flags at r16): searchIndex is
    // result-identical to ivfpqTopK (IvfPqSpec pins it row-for-row),
    // and the oracle replays the ENTIRE IVFADC stack in DuckDB — so the
    // on-disk round trip hashes query/candidate/score/rank exactly, no
    // recall flag anywhere.
    Q("q_ann_index_pq", IvfReplay.ivfpqSql) { (s, dir) =>
      import graft.operators.IvfPq
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 5)
      // search-only: reads the shared clean-index snapshot directly
      val idxDir = IndexFixtures.shared(s, dir, "ivfpq")(
        buildIvfPq(s, dir))
      IvfPq.searchIndex(s, idxDir, qs, k = 10, nProbe = 10, rerank = 300)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // PQ-index incremental append (IvfPq.appendToIndex): the batch
    // encodes against the STANDING model — coarse cells and residual
    // codebooks deliberately not refit, the production contract — and
    // its code/vector rows land as extra files inside the same
    // centroid_id directories; O(batch), zero search-path changes. The
    // appended batch is near-copies of the five query vectors under new
    // ids, so the post-append search must surface vectors that exist
    // ONLY in appended files; the recall contract runs against the
    // brute-force baseline over the UNION corpus. writeIndex's rebuild
    // makes the gate idempotent per invocation.
    // FULLY ROW-HASHED (converted from recall flags at r16): the
    // appended index's search hashes query/candidate/score/rank
    // against the IVFADC replay whose encode/search corpus is the
    // union while the MODEL stands — appendToIndex's no-refit trade is
    // the oracle's contract.
    Q("q_ann_index_pq_append", IvfReplay.ivfpqAppendSql) { (s, dir) =>
      import graft.operators.IvfPq
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 5)
      val idxDir = IndexFixtures.cloned(s, dir, "ivfpq")(
        buildIvfPq(s, dir))
      IvfPq.appendToIndex(perturbedBatch(emb), idxDir)
      IvfPq.searchIndex(s, idxDir, qs, k = 10, nProbe = 10, rerank = 300)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // PQ-index model refresh (IvfPq.recenterIndex) — the out-of-band
    // maintenance step the append paths deliberately skip: batches
    // encode against stale cells AND stale residual codebooks, so
    // recenter re-fits the whole model from the vectors the index
    // stores, re-encodes, and swaps all four datasets behind staged
    // writes. IvfPqSpec pins that recenter-after-appends is
    // row-identical to a fresh index over the union (same vector set →
    // same deterministic fit); the gate runs the recall contract over
    // the union corpus through the refreshed on-disk model.
    // FULLY ROW-HASHED (converted from recall flags at r16): after the
    // model refresh the search hashes against the replay whose coarse
    // cells AND residual books refit over the stored union — the
    // whole-model recenter path is pinned by the hash.
    Q("q_ann_index_pq_recenter", IvfReplay.ivfpqRecenterSql) {
      (s, dir) =>
        import graft.operators.IvfPq
        val emb = t(s, dir, "embeddings")
        val qs = emb.where(col("vec_id") < 5)
        val idxDir = IndexFixtures.cloned(s, dir, "ivfpq")(
          buildIvfPq(s, dir))
        IvfPq.appendToIndex(perturbedBatch(emb), idxDir)
        IvfPq.recenterIndex(s, idxDir, nClusters = 16).collect()
        IvfPq.searchIndex(s, idxDir, qs, k = 10, nProbe = 10,
            rerank = 300)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
    },

    // STREAMING PQ-index ingestion through the driver gate
    // (EventStreams.indexSink / IvfPq.appendBatchDir): two REAL
    // one-shot foreachBatch queries land the q_ann_index_pq_append
    // batch (split 0-9 / 10-19), each micro-batch encoding against the
    // STANDING model and landing codes AND vectors in batch-scoped
    // directories (exactly-once by placement). The post-stream search
    // runs the same recall contract against the union-corpus brute
    // baseline — appended vectors must surface through batch-dir files
    // only, batch boundaries invisible. The index dir is wiped first,
    // making the gate idempotent per invocation.
    // FULLY ROW-HASHED (converted from recall flags at r16): the
    // streamed index answers the SAME complete IVFADC replay as the
    // in-place append gate — batch dirs are a storage detail.
    Q("q_stream_pq_index_replay", IvfReplay.ivfpqAppendSql) {
      (s, dir) =>
        import graft.functions.VectorFunctions.asDouble
        import graft.operators.IvfPq
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val qs = emb.where(col("vec_id") < 5)
        val batch = perturbedBatch(emb)
        val idxDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
          "graft_ivfpq_index_stream",
          dir.replace('/', '_').replace(':', '_')).toString
        val fs = new org.apache.hadoop.fs.Path(idxDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
        IvfPq.writeIndex(emb, idxDir, nClusters = 16,
          model = Some(pqModel(s, dir)))
        def feed(lo: Long, hi: Long, tag: String): Unit = {
          // bounded fixture feed: 10 rows per stream at any sf
          val rows = batch
            .where(col("vec_id") >= 1000000L + lo
              && col("vec_id") < 1000000L + hi)
            .as[(Long, Seq[Double])].collect().toSeq
          val src = MemoryStream[(Long, Seq[Double])]
          src.addData(rows: _*)
          graft.streaming.EventStreams.indexSink(IvfPq,
              src.toDF().toDF("vec_id", "embedding"), idxDir,
              tagOverride = Some(tag))
            .awaitTermination()
        }
        feed(0L, 10L, "crawl-a")
        feed(10L, 20L, "crawl-b")
        IvfPq.searchIndex(s, idxDir, qs, k = 10, nProbe = 10,
            rerank = 300)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
    },

    // PQ-index deletion lifecycle (IvfPq.deleteFromIndex/vacuumIndex):
    // the shared TombstoneLedger contract on the FOURTH persisted index
    // kind — tombstones mask the ADC shortlist immediately (the
    // centroid partition filter still pushes through the anti-join's
    // left side), vacuum rewrites BOTH datasets (pqcodes and vectors)
    // behind staged swaps and clears exactly the consumed ledger files.
    // Both phases run the same recall contract as q_ann_index_pq, with
    // the brute-force baseline computed over the LIVE corpus — a
    // deleted vector must vanish from retrieval without degrading
    // recall on the survivors. Delete set id-bounded (vec_id % 17 = 3
    // AND vec_id < 1700); writeIndex's rebuild resets the ledger, so
    // the gate is idempotent per invocation.
    Q("q_ann_index_pq_delete", IvfReplay.ivfpqDeleteSql) { (s, dir) =>
      // FULLY ROW-HASHED (converted from recall flags at r16): both
      // phases hash query/candidate/score/rank against one IVFADC
      // replay with the delete set excluded before the ADC shortlist —
      // the ledger anti-join AND the partition-selective physical
      // rewrite must both reproduce it. Retires the derived
      // live-baseline machinery the flags needed.
      import graft.operators.IvfPq
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 5)
      val dead = col("vec_id") % 17 === 3 && col("vec_id") < 1700
      val idxDir = IndexFixtures.cloned(s, dir, "ivfpq")(
        buildIvfPq(s, dir))
      IvfPq.deleteFromIndex(emb.where(dead).select("vec_id"), idxDir)
      def rows(phase: String) =
        IvfPq.searchIndex(s, idxDir, qs, k = 10, nProbe = 10,
            rerank = 300)
          .withColumn("rank", col("rank").cast("long"))
          .withColumn("phase", lit(phase))
      val before = StagingCaches.checkpointed(rows("tombstoned"))
      IvfPq.vacuumIndex(s, idxDir)
      before.unionByName(rows("vacuumed"))
        .select("phase", "query_id", "cand_id", "score", "rank")
        .orderBy("phase", "query_id", "rank")
    },

    // Late-interaction multi-vector retrieval (operators.MaxSim — the
    // ColBERT scoring shape): score(q,d) = Σ_{q tokens} max_{d tokens}
    // cos — token-level interactions a single pooled vector loses.
    // Token vectors are 8 contiguous 8-dim subvectors of each embedding
    // (the stand-in for a per-token embedder; the operator is
    // representation-agnostic). FULLY hash-gated, not recall-gated:
    // per-pair cosines are rounded AND integer-scaled (i4) before the
    // max, so the per-doc sum folds exact integers — immune to partial
    // aggregation order — and the oracle replays the left-fold cosine,
    // the half-away scaling, and the integer sum expression for
    // expression.
    Q("q_ann_maxsim",
      """WITH tk AS (SELECT unnest(range(8)) AS tok),
        |dt AS (SELECT vec_id AS doc_id, tk.tok,
        |         (CAST(embedding AS DOUBLE[]))
        |           [(tk.tok*8+1):(tk.tok*8+8)] AS dv
        |       FROM embeddings CROSS JOIN tk),
        |qt AS (SELECT vec_id AS query_id, tk.tok,
        |         (CAST(embedding AS DOUBLE[]))
        |           [(tk.tok*8+1):(tk.tok*8+8)] AS qv
        |       FROM embeddings CROSS JOIN tk WHERE vec_id < 3),
        |pr AS (SELECT qt.query_id, qt.tok, dt.doc_id,
        |         list_reduce(list_transform(list_zip(qt.qv, dt.dv),
        |           z -> z[1] * z[2]), (x1, y1) -> x1 + y1)
        |         / (sqrt(list_reduce(list_transform(qt.qv, e1 -> e1 * e1),
        |              (x2, y2) -> x2 + y2))
        |            * sqrt(list_reduce(list_transform(dt.dv, e2 -> e2 * e2),
        |                (x3, y3) -> x3 + y3))) AS craw
        |       FROM dt CROSS JOIN qt WHERE qt.query_id <> dt.doc_id),
        |mx AS (SELECT query_id, tok, doc_id,
        |         max(CASE WHEN craw * 10000.0 >= 0
        |             THEN CAST(floor(craw * 10000.0 + 0.5) AS BIGINT)
        |             ELSE CAST(ceil(craw * 10000.0 - 0.5) AS BIGINT) END)
        |           AS m
        |       FROM pr GROUP BY query_id, tok, doc_id),
        |sc AS (SELECT query_id, doc_id,
        |         CAST(sum(m) AS BIGINT) / 10000.0 AS score
        |       FROM mx GROUP BY query_id, doc_id),
        |rk AS (SELECT query_id, doc_id, score, row_number() OVER (
        |         PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |       FROM sc)
        |SELECT query_id, doc_id, score, rank FROM rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      import graft.operators.MaxSim
      val emb = t(s, dir, "embeddings")
      val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", m = 8)
        .withColumnRenamed("vec_id", "doc_id")
      val qToks = MaxSim.subvectorTokens(
          emb.where(col("vec_id") < 3), "vec_id", "embedding", m = 8)
        .withColumnRenamed("vec_id", "query_id")
      MaxSim.maxSimTopK(docToks, qToks, k = 10)
        .orderBy("query_id", "rank")
    },

    // Pruned MaxSim — the ColBERT two-stage (MaxSim.maxSimTopKPruned):
    // token-level ANN candidate generation (doc tokens assigned once to
    // cells, each query token probes 6 cells and keeps its 64 best
    // matching TOKENS — mere cell co-membership would be vacuous) +
    // exact MaxSim over the ≤ |q tokens|·64 candidate docs, a bound
    // independent of corpus size. Recall contract against the exact
    // q_ann_maxsim scorer, flags integer-pinned. Measured margins: mean
    // 1.0/1.0/0.78 at sf0.001/0.01/0.1 (>=1.56x over the 0.5 pin);
    // per-query min 1.0/1.0/0.6 (>=3x over the 0.2 pin) — at sf0.1 the
    // candidate cap is a real 4x prune (512 of 2000 docs).
    // FULLY ROW-HASHED (converted from TRUE flags at r16): the oracle
    // replays the complete two-stage MaxSim — the coarse fit over
    // PACKED token ids, token-ANN candidate generation (nProbe=6,
    // per-query-token top-64 by integer-scaled cosine), exact integer
    // MaxSim re-rank — so the gate hashes query/doc/score/rank, no
    // recall flag. (The exact baseline stays separately hash-gated by
    // q_ann_maxsim_baseline30 for the spec-level recall property.)
    Q("q_ann_maxsim_pruned", IvfReplay.maxsimPrunedSql) { (s, dir) =>
      import graft.operators.MaxSim
      val emb = t(s, dir, "embeddings")
      val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
        .withColumnRenamed("vec_id", "doc_id")
      MaxSim.maxSimTopKPruned(docToks, maxsimQueryToks(s, dir), k = 10,
          nClusters = 16, nProbe = 6, tokenTopT = 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // The PERSISTED token index through the driver gate
    // (MaxSim.writeTokenIndex/searchTokenIndex) — the serve path:
    // token vectors land TWICE, each layout serving one search phase
    // (cell-partitioned `tokens` for candidate generation, doc-bucket-
    // partitioned `doctokens` for the candidate fetch — a doc's tokens
    // scatter across cells, so one layout can't serve both). Both
    // prunes land at the scans (MaxSimSpec pins the plan), and
    // searchTokenIndex is row-identical to the in-memory pruned search
    // (same deterministic fit, same top-T rule — also spec-pinned), so
    // the same recall contract gates the on-disk round trip.
    // FULLY ROW-HASHED (converted from TRUE flags at r16):
    // searchTokenIndex is row-identical to the in-memory pruned search
    // (spec-pinned), so the on-disk round trip shares
    // q_ann_maxsim_pruned's complete DuckDB replay — the persisted
    // dual-layout search hashes query/doc/score/rank exactly.
    Q("q_ann_maxsim_index", IvfReplay.maxsimPrunedSql) { (s, dir) =>
      import graft.operators.MaxSim
      // search-only: reads the shared clean-index snapshot directly
      val idxDir = IndexFixtures.shared(s, dir, "maxsim")(
        buildMaxsim(s, dir))
      MaxSim.searchTokenIndex(s, idxDir, maxsimQueryToks(s, dir), k = 10,
          nProbe = 6, tokenTopT = 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // Token-index incremental APPEND (MaxSim.appendToIndex) — the
    // growth path on the FIFTH index kind, completing the append
    // symmetry (ANN, PQ, BM25, phrase all have one): the batch's tokens
    // assign against the STANDING coarse cells (quantizer deliberately
    // not refit — the library-wide append contract) and land as extra
    // files inside the standing centroid_id= / doc_bucket= directories
    // of BOTH layouts; zero search-path changes. The batch is
    // near-copies of the first 20 docs (ids +1000000), so each query's
    // own near-copy MUST surface — the appended documents are only
    // reachable through appended files. Recall contract against the
    // UNION-corpus exact MaxSim baseline (oracle-checked below).
    // FULLY ROW-HASHED (converted from recall flags at r16): the
    // appended index's search hashes query/doc/score/rank against the
    // two-stage replay whose corpus is embeddings ∪ the perturbed
    // batch while the coarse fit stays on the ORIGINAL tokens —
    // appendToIndex's no-refit trade is itself the oracle's
    // contract now.
    Q("q_ann_maxsim_index_append", IvfReplay.maxsimAppendSql) {
      (s, dir) =>
        import graft.operators.MaxSim
        val emb = t(s, dir, "embeddings")
        val idxDir = IndexFixtures.cloned(s, dir, "maxsim")(
          buildMaxsim(s, dir))
        MaxSim.appendToIndex(
          MaxSim.subvectorTokens(perturbedBatch(emb),
              "vec_id", "embedding", 8)
            .withColumnRenamed("vec_id", "doc_id"),
          idxDir)
        MaxSim.searchTokenIndex(s, idxDir,
            maxsimQueryToks(s, dir), k = 10, nProbe = 6, tokenTopT = 64)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
    },

    // Token-index quantizer refresh (MaxSim.recenterTokenIndex) — the
    // maintenance step the append path defers, completing the
    // append+recenter pair on every QUANTIZED index kind (IVF, PQ,
    // MaxSim tokens): re-fits the coarse cells from the tokens the
    // index already stores and rewrites the cell layout behind staged
    // swaps; doctokens (bucketed by doc_id, model-free) is untouched.
    // MaxSimSpec pins recenter-after-append ≡ fresh rebuild over the
    // union ROW-FOR-ROW (same token set → same deterministic fit); the
    // gate runs the recall contract over the union corpus through the
    // refreshed on-disk model, against the oracle-checked union
    // baseline.
    // FULLY ROW-HASHED (converted from recall flags at r16): after the
    // quantizer refresh the search hashes against the replay whose
    // coarse fit AND corpus are both the union — recenterTokenIndex
    // refits from the stored (model-independent) token union, so the
    // refit path itself is pinned by the hash, not a recall floor.
    Q("q_ann_maxsim_index_recenter", IvfReplay.maxsimRecenterSql) {
      (s, dir) =>
        import graft.operators.MaxSim
        val emb = t(s, dir, "embeddings")
        val idxDir = IndexFixtures.cloned(s, dir, "maxsim")(
          buildMaxsim(s, dir))
        MaxSim.appendToIndex(
          MaxSim.subvectorTokens(perturbedBatch(emb),
              "vec_id", "embedding", 8)
            .withColumnRenamed("vec_id", "doc_id"),
          idxDir)
        MaxSim.recenterTokenIndex(s, idxDir, nClusters = 16)
        MaxSim.searchTokenIndex(s, idxDir,
            maxsimQueryToks(s, dir), k = 10, nProbe = 6, tokenTopT = 64)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
    },

    // Streaming TOKEN-INDEX ingestion (EventStreams.indexSink →
    // MaxSim.appendBatchDir) — the exactly-once contract on the
    // FIFTH index kind, closing streaming ingestion across all five:
    // two real micro-batch streams (MemoryStream, AvailableNow) land
    // the standard perturbed batch as batch-scoped dual-layout dirs
    // (overwrite by (tag, batchId) — a replayed batch rewrites its own
    // location), and searchTokenIndex unions the live dirs with
    // (doc_id, tok) dedup transparently — each query's near-copy is
    // only reachable through streamed files. Recall contract against
    // the UNION-corpus exact MaxSim baseline (oracle-checked below).
    // FULLY ROW-HASHED (converted from recall flags at r16): the
    // streamed index answers the SAME complete replay as the in-place
    // append gate — batch dirs are a storage detail, not a semantic
    // one, and now the hash proves it.
    Q("q_stream_maxsim_index_replay", IvfReplay.maxsimAppendSql) {
      (s, dir) =>
        import graft.operators.MaxSim
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val batchToks = MaxSim.subvectorTokens(perturbedBatch(emb),
            "vec_id", "embedding", 8)
          .withColumnRenamed("vec_id", "doc_id")
        val idxDir = IndexFixtures.cloned(s, dir, "maxsim")(
          buildMaxsim(s, dir))
        def feed(lo: Long, hi: Long, tag: String): Unit = {
          // bounded fixture feed: ≤80 token rows per stream at any sf
          val rows = batchToks
            .where(col("doc_id") >= 1000000L + lo
              && col("doc_id") < 1000000L + hi)
            .as[(Long, Int, Seq[Double])].collect().toSeq
          val src = MemoryStream[(Long, Int, Seq[Double])]
          src.addData(rows: _*)
          graft.streaming.EventStreams.indexSink(MaxSim,
              src.toDF().toDF("doc_id", "tok", "vec"), idxDir,
              tagOverride = Some(tag))
            .awaitTermination()
        }
        feed(0L, 10L, "crawl-a")
        feed(10L, 20L, "crawl-b")
        MaxSim.searchTokenIndex(s, idxDir,
            maxsimQueryToks(s, dir), k = 10, nProbe = 6, tokenTopT = 64)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
    },

    // The UNION-corpus exact-MaxSim baseline, independently recomputed
    // by the oracle — the append contract above measures against this
    // memoized frame, so it is hashed against a full DuckDB MaxSim
    // replay over the SAME batch derivation, 30 ranks deep.
    Q("q_ann_maxsim_union_baseline30",
      """WITH tk AS (SELECT unnest(range(8)) AS tok),
        |aug AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |        FROM embeddings
        |        UNION ALL
        |        SELECT vec_id + 1000000,
        |               list_concat([CAST(embedding AS DOUBLE[])[1] + 0.1],
        |                           CAST(embedding AS DOUBLE[])[2:64])
        |        FROM embeddings WHERE vec_id < 20),
        |dt AS (SELECT vec_id AS doc_id, tk.tok,
        |         v[(tk.tok*8+1):(tk.tok*8+8)] AS dv
        |       FROM aug CROSS JOIN tk),
        |qt AS (SELECT vec_id AS query_id, tk.tok,
        |         v[(tk.tok*8+1):(tk.tok*8+8)] AS qv
        |       FROM aug CROSS JOIN tk WHERE vec_id < 3),
        |pr AS (SELECT qt.query_id, qt.tok, dt.doc_id,
        |         list_reduce(list_transform(list_zip(qt.qv, dt.dv),
        |           z -> z[1] * z[2]), (x1, y1) -> x1 + y1)
        |         / (sqrt(list_reduce(list_transform(qt.qv, e1 -> e1 * e1),
        |              (x2, y2) -> x2 + y2))
        |            * sqrt(list_reduce(list_transform(dt.dv, e2 -> e2 * e2),
        |                (x3, y3) -> x3 + y3))) AS craw
        |       FROM dt CROSS JOIN qt WHERE qt.query_id <> dt.doc_id),
        |mx AS (SELECT query_id, tok, doc_id,
        |         max(CASE WHEN craw * 10000.0 >= 0
        |             THEN CAST(floor(craw * 10000.0 + 0.5) AS BIGINT)
        |             ELSE CAST(ceil(craw * 10000.0 - 0.5) AS BIGINT) END)
        |           AS m
        |       FROM pr GROUP BY query_id, tok, doc_id),
        |sc AS (SELECT query_id, doc_id,
        |         CAST(sum(m) AS BIGINT) AS si4
        |       FROM mx GROUP BY query_id, doc_id),
        |rk AS (SELECT query_id, doc_id, row_number() OVER (
        |         PARTITION BY query_id
        |         ORDER BY si4 DESC, doc_id) AS rank
        |       FROM sc)
        |SELECT query_id, doc_id AS cand_id, rank FROM rk WHERE rank <= 30
        |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      maxsimUnionExact(s, dir).orderBy("query_id", "rank")
    },

    // Token-index deletion lifecycle (MaxSim.deleteFromIndex /
    // vacuumIndex): the shared TombstoneLedger contract on the
    // FIFTH persisted index kind — tombstones mask BOTH layouts
    // immediately (a deleted doc can neither seed candidates nor be
    // fetched), vacuum rewrites both behind staged swaps from one
    // ledger enumeration. Both phases run the recall contract against
    // the exact MaxSim baseline over the LIVE corpus; delete set
    // id-bounded (vec_id % 17 = 3 AND vec_id < 1700); writeTokenIndex's
    // rebuild resets the ledger, so the gate is idempotent.
    Q("q_ann_maxsim_index_delete", IvfReplay.maxsimDeleteSql) {
      (s, dir) =>
        // FULLY ROW-HASHED (converted from recall flags at r16): both
        // phases hash query/doc/score/rank against ONE DuckDB replay of
        // the two-stage search with the delete set excluded from the
        // doc-token side — the ledger anti-join (tombstoned phase) AND
        // the partition-selective physical rewrite (vacuumed phase)
        // must both reproduce the replay exactly. This also retires the
        // derived-live-baseline machinery the old flags needed (one
        // less window + agg per invocation).
        import graft.operators.MaxSim
        val emb = t(s, dir, "embeddings")
        val dead = col("vec_id") % 17 === 3 && col("vec_id") < 1700
        val qToks = maxsimQueryToks(s, dir)
        val idxDir = IndexFixtures.cloned(s, dir, "maxsim")(
          buildMaxsim(s, dir))
        MaxSim.deleteFromIndex(
          emb.where(dead).select(col("vec_id").as("doc_id")), idxDir)
        // one probe plan serves BOTH phases: delete and vacuum never
        // move the coarse quantizer, so the pre- and post-vacuum
        // searches share the query→cell assignment job (the serving-
        // tier shape — probes are per query batch, not per mutation)
        val probePlan = MaxSim.planTokenProbes(s, idxDir, qToks,
          nProbe = 6)
        def rows(phase: String) =
          MaxSim.searchTokenIndex(s, idxDir, qToks, k = 10,
              nProbe = 6, tokenTopT = 64, probes = Some(probePlan))
            .withColumn("rank", col("rank").cast("long"))
            .withColumn("phase", lit(phase))
        val before = StagingCaches.checkpointed(rows("tombstoned"))
        MaxSim.vacuumIndex(s, idxDir)
        before.unionByName(rows("vacuumed"))
          .select("phase", "query_id", "doc_id", "score", "rank")
          .orderBy("phase", "query_id", "rank")
    },

    // The UNION-corpus brute baseline (embeddings ∪ the standard
    // perturbed batch), independently recomputed by the oracle — the
    // third shared exact frame: the three PQ growth contracts
    // (append / recenter / streamed ingest) measure against its top-10
    // prefix, so the baseline they trust is hashed against a DuckDB
    // replay of the SAME batch derivation + cosine top-30.
    Q("q_ann_union_baseline30",
      """WITH aug AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |             FROM embeddings
        |             UNION ALL
        |             SELECT vec_id + 1000000,
        |                    list_concat([CAST(embedding AS DOUBLE[])[1]
        |                                   + 0.1],
        |                                CAST(embedding AS DOUBLE[])[2:64])
        |             FROM embeddings WHERE vec_id < 20),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM aug
        |      WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS cand_id,
        |         round(list_cosine_similarity(qv, e.v), 4) AS score
        |  FROM q, aug e WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, cand_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, cand_id) AS rank
        |  FROM scored)
        |SELECT query_id, cand_id, score, rank FROM ranked
        |WHERE rank <= 30 ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        bruteUnion30(s, dir).orderBy("query_id", "rank")
    },

    // The SHARED brute-force baseline, independently recomputed by the
    // oracle — the single-vector anti-self-certification gate, twin of
    // q_ann_brute_baseline30's MaxSim sibling below: the four
    // full-corpus recall contracts (IVF / PQ / IVFADC / persisted PQ)
    // consume this memoized frame's top-10 prefix, and the PQ delete
    // gate derives its live baseline from the full 30 — so the frame
    // they all trust is hashed against a full DuckDB cosine replay, 30
    // ranks deep, scores included.
    Q("q_ann_brute_baseline30",
      """WITH q AS (SELECT vec_id AS query_id,
        |                  CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS cand_id,
        |         round(list_cosine_similarity(qv,
        |               CAST(e.embedding AS DOUBLE[])), 4) AS score
        |  FROM q, embeddings e WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, cand_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, cand_id) AS rank
        |  FROM scored)
        |SELECT query_id, cand_id, score, rank FROM ranked
        |WHERE rank <= 30 ORDER BY query_id, rank""".stripMargin) {
      (s, dir) =>
        bruteExact30(s, dir).orderBy("query_id", "rank")
    },

    // The SHARED exact-MaxSim baseline, independently recomputed by the
    // oracle — the anti-self-certification gate: the three recall
    // contracts above (q_ann_maxsim_pruned / _index / _index_delete) all
    // measure against the session-memoized maxsimExact frame, so a
    // regression in the Spark-side exact scorer would silently pass
    // every TRUE-flag recall gate. This gate hashes that exact frame
    // (all 30 ranks deep — the full prefix the contracts consume,
    // including the delete gate's live-baseline derivation) against a
    // full DuckDB MaxSim replay, so the baseline itself can FAIL.
    Q("q_ann_maxsim_baseline30",
      """WITH tk AS (SELECT unnest(range(8)) AS tok),
        |dt AS (SELECT vec_id AS doc_id, tk.tok,
        |         (CAST(embedding AS DOUBLE[]))
        |           [(tk.tok*8+1):(tk.tok*8+8)] AS dv
        |       FROM embeddings CROSS JOIN tk),
        |qt AS (SELECT vec_id AS query_id, tk.tok,
        |         (CAST(embedding AS DOUBLE[]))
        |           [(tk.tok*8+1):(tk.tok*8+8)] AS qv
        |       FROM embeddings CROSS JOIN tk WHERE vec_id < 3),
        |pr AS (SELECT qt.query_id, qt.tok, dt.doc_id,
        |         list_reduce(list_transform(list_zip(qt.qv, dt.dv),
        |           z -> z[1] * z[2]), (x1, y1) -> x1 + y1)
        |         / (sqrt(list_reduce(list_transform(qt.qv, e1 -> e1 * e1),
        |              (x2, y2) -> x2 + y2))
        |            * sqrt(list_reduce(list_transform(dt.dv, e2 -> e2 * e2),
        |                (x3, y3) -> x3 + y3))) AS craw
        |       FROM dt CROSS JOIN qt WHERE qt.query_id <> dt.doc_id),
        |mx AS (SELECT query_id, tok, doc_id,
        |         max(CASE WHEN craw * 10000.0 >= 0
        |             THEN CAST(floor(craw * 10000.0 + 0.5) AS BIGINT)
        |             ELSE CAST(ceil(craw * 10000.0 - 0.5) AS BIGINT) END)
        |           AS m
        |       FROM pr GROUP BY query_id, tok, doc_id),
        |sc AS (SELECT query_id, doc_id,
        |         CAST(sum(m) AS BIGINT) AS si4
        |       FROM mx GROUP BY query_id, doc_id),
        |rk AS (SELECT query_id, doc_id, row_number() OVER (
        |         PARTITION BY query_id
        |         ORDER BY si4 DESC, doc_id) AS rank
        |       FROM sc)
        |SELECT query_id, doc_id AS cand_id, rank FROM rk WHERE rank <= 30
        |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      maxsimExact(s, dir).orderBy("query_id", "rank")
    },

    // int8 scalar quantization of embeddings — the 4×-8× memory/IO lever
    // for ANN storage. Cosine is scale-invariant, so the quantized cosine
    // runs directly on the codes; the gate emits the code-vs-original
    // cosine (quantization fidelity, hash-exact: both engines evaluate
    // the identical floor(x/scale + 0.5) and fold arithmetic) and pins
    // the per-component reconstruction-error bound |x - q·scale| ≤
    // scale/2 TRUE.
    Q("q_embed_quantize",
      """WITH q AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |                                 x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings WHERE vec_id < 200),
        |c AS (SELECT vec_id, v, scale,
        |             list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
        |               ELSE floor(x / scale + 0.5) END) AS codes
        |      FROM q)
        |SELECT vec_id,
        |       round(list_cosine_similarity(codes, v), 4) AS qcos,
        |       list_max(list_transform(range(1, len(v) + 1),
        |         i -> abs(v[i] - codes[i] * scale))) <= scale / 2 + 1e-12
        |         AS err_ok
        |FROM c ORDER BY vec_id""".stripMargin) { (s, dir) =>
      import graft.functions.VectorFunctions._
      import graft.functions.Rounding.round4
      t(s, dir, "embeddings").where(col("vec_id") < 200)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("scale", quantizeScale(col("v")))
        .withColumn("codes", quantize8(col("v"), col("scale")))
        .select(col("vec_id"),
          round4(cosine(col("codes"), col("v"))).as("qcos"),
          (aggregate(zip_with(col("v"),
              dequantize8(col("codes"), col("scale")),
              (x, d) => abs(x - d)), lit(0.0), (acc, e) => greatest(acc, e))
            <= col("scale") / 2 + 1e-12).as("err_ok"))
        .orderBy("vec_id")
    },

    // Embedding-cosine near-dup, exact bounded baseline. The corpus is
    // synthetic-random (max pairwise cosine ≈ 0.51), so near-dups are
    // PLANTED deterministically: ×2-scaled copies (cosine exactly 1 —
    // magnitude invariance) and first-component+0.1 perturbations
    // (cosine ≈ 0.995); threshold 0.99 admits exactly the planted pairs.
    Q("q_dedup_embed",
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |              FROM embeddings WHERE vec_id < 50),
         |aug AS (SELECT vec_id, v FROM base
         |        UNION ALL
         |        SELECT vec_id + 100000, list_transform(v, x -> x * 2.0)
         |        FROM base WHERE vec_id < 25
         |        UNION ALL
         |        SELECT vec_id + 100000, list_concat([v[1] + 0.1], v[2:64])
         |        FROM base WHERE vec_id >= 25)
         |SELECT a.vec_id AS id1, b.vec_id AS id2,
         |       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
         |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.99
         |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      Dedup.embeddingNearDupPairs(augmentedEmbeddings(s, dir), "vec_id", "v",
          threshold = 0.99, maxDocs = 1000)
        .orderBy("id1", "id2")
    },

    // Embedding near-dup at scale: hyperplane sign sketch + pigeonhole
    // banding + cosine verify. Rows-only through round 6 — now fully
    // oracled: SketchReplay.embedLshSql regenerates the deterministic
    // plane table (the engine's splitmix64-variant mixer in HUGEINT
    // mod-2^64 arithmetic), the sign-bit signatures with left-fold dot
    // products, the 11-band split, the hamming filter, and the rounded
    // cosine verify — hash-matched row-for-row, so a regression in the
    // sketch ITSELF (not just the verified output) fails the gate.
    Q("q_dedup_embed_lsh", SketchReplay.embedLshSql) { (s, dir) =>
      Dedup.embeddingNearDupLsh(augmentedEmbeddings(s, dir), "vec_id", "v",
          threshold = 0.99, maxHamming = 10)
        .orderBy("id1", "id2")
    },

    // Embed-LSH contract, oracle-gated (the q_ann_ivf_recall pattern):
    // every PLANTED near-dup pair (id, id+100000) must surface through the
    // sketch+banding path (`found` — deterministic: exact copies sketch to
    // hamming 0, the +0.1 perturbations to ~2 of 64 bits vs the 10-bit
    // radius, and the hyperplanes are seedless-deterministic), and the LSH
    // output must stay a subset of the exact O(n²) baseline (`lsh_sound` —
    // the verify stage applies the same rounded cosine threshold). The
    // oracle pins both TRUE, so a regression in the sketch, the banding,
    // or the verify join fails the driver's hash gate.
    // FULLY ROW-HASHED (converted from TRUE flags at r16): the gate
    // emits the EXACT brute cosine pairs over the planted augmented
    // corpus — the oracle recomputes them end to end — and pins the
    // LSH properties with loud in-gate checks: soundness (LSH ⊆ exact)
    // and planted recall (every (id, id+100000) pair surfaces through
    // the sketch+banding path). The LSH side's own rows are hash-gated
    // by q_dedup_embed_lsh.
    Q("q_dedup_embed_lsh_recall", SketchReplay.embedBruteSql) {
      (s, dir) =>
        val aug = augmentedEmbeddings(s, dir)
        val lsh = StagingCaches.cache(
          Dedup.embeddingNearDupLsh(aug, "vec_id", "v",
              threshold = 0.99, maxHamming = 10)
            .select("id1", "id2"))
        val exact = StagingCaches.cache(
          Dedup.embeddingNearDupPairs(aug, "vec_id", "v",
            threshold = 0.99, maxDocs = 1000))
        // no eager unpersist and no localCheckpoint here: both frames
        // are StagingCaches-tracked, so OperatorCaches.releaseAll owns
        // them AFTER the driver consumes the returned result — a
        // per-invocation checkpoint pinned an RDD releaseAll never saw
        // (the r16 514/515 leak), and a `finally` unpersist would force
        // the consumer to recompute `exact` from cold
        val unsound = lsh.join(exact, Seq("id1", "id2"), "left_anti")
          .count()
        require(unsound == 0L,
          s"LSH emitted $unsound pairs outside the exact baseline")
        val planted = t(s, dir, "embeddings").where(col("vec_id") < 50)
          .select(col("vec_id").as("id1"),
            (col("vec_id") + 100000).as("id2"))
        val missed = planted
          .join(lsh, Seq("id1", "id2"), "left_anti").count()
        require(missed == 0L,
          s"LSH missed $missed planted near-dup pairs")
        exact.orderBy("id1", "id2")
    },

    // SemDeDup (Dedup.semanticDedup): semantic near-dup pruning bounded
    // by k-means clusters — pairwise cosine runs within clusters only,
    // never corpus x corpus; a vector is dropped when a lower-id
    // cluster-mate sits at rounded cosine >= 0.99. Fully oracled: the
    // DuckDB side replays the ENTIRE path — xxhash64 sample order,
    // farthest-point init, 5 Lloyd iterations, augmented-corpus
    // assignment, within-cluster prune — so a regression anywhere in the
    // fit, the assignment, or the prune flips a hashed row. The planted
    // x2-scale copies assign to their originals' clusters exactly
    // (power-of-two scaling is cosine-invariant in IEEE) and are pruned;
    // the keep flags are integer-exact.
    Q("q_dedup_semantic", IvfReplay.semanticSql) { (s, dir) =>
      Dedup.semanticDedup(augmentedEmbeddings(s, dir), "vec_id", "v",
          centroids = centroids(s, dir), threshold = 0.99)
        .orderBy("vec_id")
    },

    // Cluster-balanced (SemDeDup-shape) sampling: k-means clusters as
    // semantic strata, up to 20 vectors per cluster by deterministic hash
    // order. FULLY ROW-HASHED (converted from TRUE flags at r16 — the
    // k-means fit DOES have a DuckDB twin, the IvfReplay machinery):
    // the gate emits the exact sample rows and the oracle recomputes
    // fit + assignment + the md5-ordered per-cluster top-20, which
    // subsumes the old cap/cover/subset flags by construction.
    Q("q_sample_cluster_balanced", IvfReplay.clusterSampleSql) {
      (s, dir) =>
        import graft.operators.Sampling
        val emb = t(s, dir, "embeddings")
        val assigned = Similarity.assignClusters(emb, nClusters = 16,
          centroids = Some(centroids(s, dir)))
        Sampling.perGroupSample(assigned, "centroid_id", "cand_id", 20)
          .select(col("centroid_id").cast("long").as("centroid_id"),
            col("cand_id"))
          .orderBy("centroid_id", "cand_id")
    },

    // Per-label embedding centroids through the custom vec_mean aggregate
    // (element-wise mean with a (sum-vector, count) partial buffer — the
    // posexplode+groupBy(dim) alternative shuffles d rows per vector).
    // The centroid is exploded back to (label, j, m) rows so the oracle
    // hash-gates every element; 4 dp rounding absorbs partial-sum order,
    // the same contract as the built-in sum/avg gates. PlanShapeSpec pins
    // the partial_vec_mean below the exchange.
    Q("q_embed_centroids",
      """SELECT label, CAST(j - 1 AS INT) AS j,
        |       round(avg(CAST(embedding[j] AS DOUBLE)), 4) AS m
        |FROM embeddings, unnest(generate_series(1, 64)) AS t(j)
        |GROUP BY label, j ORDER BY label, j""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .groupBy("label")
        .agg(expr("vec_mean(embedding)").as("centroid"))
        .select(col("label"), posexplode(col("centroid")))
        .select(col("label"), col("pos").as("j"),
          graft.functions.Rounding.round4(col("col")).as("m"))
        .orderBy("label", "j")
    },

    // MMR diversified top-k (Similarity.mmrTopK): per query, 5 picks from
    // the 12-candidate relevance shortlist, greedily maximizing
    // 7·rel − 3·max_sim_to_selected in INTEGER 4-dp-cosine units with id
    // tiebreaks — no IEEE boundary can flip a pick, so the oracle's
    // 4-round unrolled greedy replay (MATERIALIZED — each round reads the
    // previous selection three times) hash-matches exactly. The corpus is
    // touched once (relevance scan); rounds run on |Q|·12 rows.
    Q("q_ann_mmr", {
      def i4(e: String) =
        s"CAST(CASE WHEN ($e) * 10000.0 >= 0 " +
          s"THEN floor(($e) * 10000.0 + 0.5) " +
          s"ELSE ceil(($e) * 10000.0 - 0.5) END AS BIGINT)"
      val rounds = (2 to 5).map { i =>
        s"""rem$i AS (SELECT m.* FROM members m
           |  LEFT JOIN s${i - 1} x ON m.qid = x.qid AND m.cid = x.cid
           |  WHERE x.cid IS NULL),
           |pen$i AS (SELECT r.qid, r.cid, r.rel, max(sm.sim) AS ms
           |  FROM rem$i r JOIN s${i - 1} sel ON r.qid = sel.qid
           |  JOIN sims sm ON sm.qid = r.qid AND sm.ca = r.cid
           |             AND sm.cb = sel.cid
           |  GROUP BY 1, 2, 3),
           |p$i AS (SELECT qid, cid, rel FROM (
           |  SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid
           |    ORDER BY 7 * rel - 3 * ms DESC, cid) AS rn
           |  FROM pen$i) WHERE rn = 1),
           |s$i AS MATERIALIZED (SELECT qid, cid, rel, pick FROM s${i - 1}
           |  UNION ALL SELECT qid, cid, rel, $i FROM p$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id < 3),
         |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |      FROM embeddings),
         |scored AS (SELECT qid, cid, cv,
         |                  ${i4("list_cosine_similarity(qv, cv)")} AS rel
         |           FROM q JOIN c ON cid != qid),
         |short AS MATERIALIZED (SELECT qid, cid, cv, rel FROM (
         |  SELECT qid, cid, cv, rel, row_number() OVER (PARTITION BY qid
         |    ORDER BY rel DESC, cid) AS rn FROM scored) WHERE rn <= 12),
         |members AS (SELECT qid, cid, rel FROM short),
         |sims AS MATERIALIZED (SELECT a.qid, a.cid AS ca, b.cid AS cb,
         |         ${i4("list_cosine_similarity(a.cv, b.cv)")} AS sim
         |       FROM short a JOIN short b
         |         ON a.qid = b.qid AND a.cid != b.cid),
         |s1 AS MATERIALIZED (SELECT qid, cid, rel, 1 AS pick FROM (
         |  SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid
         |    ORDER BY rel DESC, cid) AS rn FROM members) WHERE rn = 1),
         |$rounds
         |SELECT qid AS query_id, pick, cid AS cand_id, rel AS rel_i4
         |FROM s5 ORDER BY query_id, pick""".stripMargin
    }) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.mmrTopK(emb, emb.where(col("vec_id") < 3),
          k = 5, shortlist = 12)
        .orderBy("query_id", "pick")
    },
  )

  /** The shared recall-contract tail (q_ann_ivf_recall /
    * q_ann_pq_recall / q_ann_ivfpq_recall / q_ann_index_pq): per-query
    * hits of `approx` against the `exact` baseline, then the two pinned
    * flags — per-query `hits*5 >= n` (recall >= 0.2) and corpus
    * `2*sum_hits >= sum_n` (mean >= 0.5) — both integer-exact so no
    * IEEE boundary (10*0.3 > 3.0) can flip a flag. */
  /** Row-hashed recall measurement: per-query (hits, n) of `approx`
    * against `exact` — the conversion target for the TRUE-flag recall
    * gates whose pipelines have full DuckDB replays (the oracle
    * recomputes BOTH sides and the same counts, so any recall movement
    * in either direction fails the hash — strictly tighter than a
    * thresholded flag). */
  private def recallCounts(exact: org.apache.spark.sql.DataFrame,
                           approx: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hits = exact.join(approx, Seq("query_id", "cand_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        col("n"))
      .orderBy("query_id")
  }

  private def recallFlags(exact: org.apache.spark.sql.DataFrame,
                          approx: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hits = exact.join(approx, Seq("query_id", "cand_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    val perQuery = exact.groupBy("query_id").agg(count(lit(1)).as("n"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        col("n"))
    val meanFlag = perQuery.agg(
      (sum("hits") * 2 >= sum("n")).as("mean_ok"))
    perQuery
      .select(col("query_id"),
        (col("hits") * 5 >= col("n")).as("recall_ok"))
      .crossJoin(broadcast(meanFlag))
      .orderBy("query_id")
  }

  /** Session-scoped memo for DETERMINISTIC derived values keyed by SF
    * dir (fits, exact baselines). Keyed WEAKLY by the session object —
    * a DataFrame is bound to the session that built it, and serving one
    * to a different (or restarted) session would fail or mix catalogs;
    * the weak key also lets a dead session's entries (and the frames
    * pinning it) be collected instead of accumulating in a long-lived
    * JVM. Memoizing is exact because every builder below is
    * deterministic over (session, dir). */
  private final class SessionMemo[V] {
    private val cache = new java.util.WeakHashMap[
      org.apache.spark.sql.SparkSession,
      scala.collection.mutable.Map[String, V]]
    def apply(s: org.apache.spark.sql.SparkSession, dir: String)
             (build: => V): V = cache.synchronized {
      var per = cache.get(s)
      if (per == null) {
        per = scala.collection.mutable.Map.empty
        cache.put(s, per)
      }
      per.getOrElseUpdate(dir, build)
    }
  }

  /** One k-means fit per (session, SF dir), shared by q_ann_ivf and
    * q_ann_ivf_recall — a driver-local LocalRelation (k×dim doubles). */
  private val centCache = new SessionMemo[org.apache.spark.sql.DataFrame]
  private def centroids(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame =
    centCache(s, dir)(
      Similarity.fitCentroids(t(s, dir, "embeddings"), k = 16))

  /** One IVF-PQ model fit per (session, SF dir) — the PQ twin of the
    * centroid cache below, shared by the six q_ann_*pq* gates: the fit
    * is deterministic over the full embeddings table with the shared
    * coarse centroids, so every gate's own fit would produce the
    * identical model; memoizing it is exact and saves a bounded sample
    * collect + driver Lloyd per gate (plain arrays, no DataFrame). */
  private val pqModelCache = new SessionMemo[graft.operators.IvfPq.Model]
  private def pqModel(s: org.apache.spark.sql.SparkSession,
                      dir: String): graft.operators.IvfPq.Model =
    pqModelCache(s, dir)(
      graft.operators.IvfPq.fit(t(s, dir, "embeddings"),
        nClusters = 16, centroids = Some(centroids(s, dir))))

  /** The exact MaxSim top-30 baseline per (session, SF dir), WITH rank —
    * shared by the three recall-contract gates (q_ann_maxsim_pruned /
    * q_ann_maxsim_index take rank ≤ 10; q_ann_maxsim_index_delete
    * derives its LIVE-corpus top-10 by anti-joining the tombstoned ids
    * and re-ranking the surviving prefix — exact, because deleting docs
    * never reorders the survivors, so the live top-10 is the first 10
    * live rows of the full-corpus ranking; the depth-30 prefix is
    * validated per query at use). Deterministic, so the memo is exact.
    * The memoized frame is a localCheckpoint (session-lifetime, tiny:
    * queries×30 rows). */
  private val maxsimExactCache =
    new SessionMemo[org.apache.spark.sql.DataFrame]
  private def maxsimExact(s: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame =
    maxsimExactCache(s, dir) {
      import graft.operators.MaxSim
      val emb = t(s, dir, "embeddings")
      val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
        .withColumnRenamed("vec_id", "doc_id")
      MaxSim.maxSimTopK(docToks, maxsimQueryToks(s, dir), k = 30)
        .select(col("query_id"), col("doc_id").as("cand_id"),
          col("rank"))
        .localCheckpoint()
    }

  /** The MaxSim family's shared query-token frame (queries < 3). */
  private def maxsimQueryToks(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.MaxSim.subvectorTokens(
        t(s, dir, "embeddings").where(col("vec_id") < 3),
        "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")

  /** The exact MaxSim top-30 over the UNION corpus (embeddings ∪
    * [[perturbedBatch]]) — the baseline the token-index APPEND contract
    * measures against; memoized like [[maxsimExact]] and
    * oracle-checked by q_ann_maxsim_union_baseline30. */
  private val maxsimUnionCache =
    new SessionMemo[org.apache.spark.sql.DataFrame]
  private def maxsimUnionExact(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    maxsimUnionCache(s, dir) {
      import graft.functions.VectorFunctions.asDouble
      import graft.operators.MaxSim
      val emb = t(s, dir, "embeddings")
      val union = emb.select(col("vec_id"),
          asDouble(col("embedding")).as("embedding"))
        .union(perturbedBatch(emb))
      val docToks = MaxSim.subvectorTokens(union, "vec_id", "embedding", 8)
        .withColumnRenamed("vec_id", "doc_id")
      MaxSim.maxSimTopK(docToks, maxsimQueryToks(s, dir), k = 30)
        .select(col("query_id"), col("doc_id").as("cand_id"),
          col("rank"))
        .localCheckpoint()
    }

  /** The exact brute-force cosine top-30 baseline per (session, SF
    * dir), with score and rank — the single-vector twin of
    * [[maxsimExact]]: shared by the four full-corpus recall contracts
    * (rank ≤ 10 prefix) and by q_ann_index_pq_delete's LIVE-corpus
    * derivation (anti-join tombstones + re-rank — exact while ≥10 of
    * each query's top-30 survive, validated loudly at use), and
    * independently oracle-checked by q_ann_brute_baseline30 so the
    * frame every contract trusts can FAIL on its own. Deterministic,
    * tiny (queries×30 rows), session-lifetime localCheckpoint. */
  private val bruteExactCache =
    new SessionMemo[org.apache.spark.sql.DataFrame]
  private def bruteExact30(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    bruteExactCache(s, dir) {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5),
          k = 30)
        .withColumn("rank", col("rank").cast("long"))
        .localCheckpoint()
    }

  /** [[bruteExact30]] restricted to the top-10 contract depth. */
  private def bruteExact10(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    bruteExact30(s, dir).where(col("rank") <= 10)
      .select("query_id", "cand_id")

  /** The standard append fixture batch every index-growth gate uses:
    * near-copies of ids < 20 (first component +0.1) landed at
    * vec_id + 1000000 — one definition for the five gates and the
    * oracles that replay it. */
  private[queries] def perturbedBatch(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.functions.VectorFunctions.asDouble
    val v = asDouble(col("embedding"))
    emb.where(col("vec_id") < 20)
      .select((col("vec_id") + 1000000).as("vec_id"),
        concat(array(element_at(v, 1) + 0.1), slice(v, 2, 63))
          .as("embedding"))
  }

  /** The exact brute-force top-30 over the UNION corpus (embeddings ∪
    * [[perturbedBatch]]) — the baseline the three PQ growth contracts
    * (append / recenter / streamed ingest) share; memoized like
    * [[bruteExact30]] and oracle-checked by q_ann_union_baseline30. */
  private val bruteUnionCache =
    new SessionMemo[org.apache.spark.sql.DataFrame]
  private def bruteUnion30(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    bruteUnionCache(s, dir) {
      import graft.functions.VectorFunctions.asDouble
      val emb = t(s, dir, "embeddings")
      val union = emb.select(col("vec_id"),
          asDouble(col("embedding")).as("embedding"))
        .union(perturbedBatch(emb))
      Similarity.bruteForceTopK(union, emb.where(col("vec_id") < 5),
          k = 30)
        .withColumn("rank", col("rank").cast("long"))
        .localCheckpoint()
    }

  /** Exact brute top-10 over the vec_id % 3 = 1 slice — the baseline
    * the filtered-search contract measures against; memoized and
    * oracle-checked by q_ann_filtered_baseline10. */
  private val filteredBruteCache =
    new SessionMemo[org.apache.spark.sql.DataFrame]
  private def filteredBrute10(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    filteredBruteCache(s, dir) {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.where(col("vec_id") % 3 === 1),
          emb.where(col("vec_id") < 5), k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .select("query_id", "cand_id", "rank")
        .localCheckpoint()
    }

  /** Clean-index fixture builders, one per vector index kind — the
    * SAME builder every lifecycle gate passes to [[IndexFixtures]], so
    * the warmup-built snapshot and a gate-built one are identical. */
  private[queries] def buildIvf(s: org.apache.spark.sql.SparkSession,
                                dir: String): String => Unit =
    p => Similarity.writeIndex(t(s, dir, "embeddings"), p, nClusters = 16)

  private[queries] def buildIvfPq(s: org.apache.spark.sql.SparkSession,
                                  dir: String): String => Unit =
    p => graft.operators.IvfPq.writeIndex(t(s, dir, "embeddings"), p,
      nClusters = 16, model = Some(pqModel(s, dir)))

  private[queries] def buildSketch(s: org.apache.spark.sql.SparkSession,
                                   dir: String): String => Unit =
    p => graft.operators.SketchIndex.writeIndex(t(s, dir, "embeddings"), p)

  private[queries] def buildMaxsim(s: org.apache.spark.sql.SparkSession,
                                   dir: String): String => Unit =
    p => graft.operators.MaxSim.writeTokenIndex(
      graft.operators.MaxSim.subvectorTokens(
          t(s, dir, "embeddings"), "vec_id", "embedding", 8)
        .withColumnRenamed("vec_id", "doc_id"),
      p, nClusters = 16)

  /** The q_warehouse_sweep fixture: a root holding all six index kinds
    * (tiny corpora — 60 vectors, 40 documents) WITH their debt already
    * planted (sketch: 2 live batch dirs; ivf/bm25: tombstones;
    * ivfpq/maxsim/phrase: idle) plus a non-index dataset the janitor must
    * skip. Debt planting is deterministic writes, so the debted root
    * memoizes like any clean-index fixture; the gate clones it and pays
    * only for the sweep. */
  private[queries] def buildWarehouse(s: org.apache.spark.sql.SparkSession,
                                      dir: String): String => Unit = {
    root =>
      import s.implicits._
      import graft.operators.{Bm25, IvfPq, MaxSim, PhraseSearch,
        SketchIndex}
      val emb = t(s, dir, "embeddings").where(col("vec_id") < 60)
      val docs = t(s, dir, "documents").orderBy("doc_id").limit(40)
        .select("doc_id", "text")
      val toks = MaxSim.subvectorTokens(emb.where(col("vec_id") < 40),
          "vec_id", "embedding", 8)
        .withColumnRenamed("vec_id", "doc_id")
      Similarity.writeIndex(emb, s"$root/idx_ivf", nClusters = 4)
      IvfPq.writeIndex(emb, s"$root/idx_ivfpq", nClusters = 4)
      SketchIndex.writeIndex(emb, s"$root/idx_sketch")
      MaxSim.writeTokenIndex(toks, s"$root/idx_maxsim", nClusters = 4)
      Bm25.writeIndex(docs, s"$root/idx_bm25")
      PhraseSearch.writeIndex(docs, s"$root/idx_phrase")
      docs.limit(5).write.parquet(s"$root/plain_dataset")
      // mixed debt under the gate's sweep-wide policy (maxLiveBatches=1,
      // maxTombstones=1)
      val v = graft.functions.VectorFunctions.asDouble(col("embedding"))
      def batch(k: Int) = emb.where(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L * (k + 1)).as("vec_id"),
          concat(array(element_at(v, 1) + 0.1 * (k + 1)), slice(v, 2, 63))
            .as("embedding"))
      for (k <- 0 until 2)
        SketchIndex.appendBatchDir(batch(k), s"$root/idx_sketch", "crawl",
          k.toLong)
      val victims = Seq(7L, 11L).toDF("vec_id")
      Similarity.deleteFromIndex(victims, s"$root/idx_ivf")
      Bm25.deleteFromIndex(Seq(3L, 9L).toDF("doc_id"), s"$root/idx_bm25")
  }

  /** Force the cross-gate memoized fits, baselines, and clean-index
    * snapshots (coarse centroids, the IVF-PQ model, the exact-MaxSim
    * baseline, the three vector-index fixtures) — Bench's untimed
    * warmup (`staging_sec`): all are shared by several gates and
    * otherwise get charged to the FIRST payer in map iteration order
    * (r14: q_ann_ivf read 2.8× at the driver as first payer of the
    * centroid fit the six PQ gates reuse). */
  def warmStaging(s: org.apache.spark.sql.SparkSession,
                  dir: String): Unit = {
    centroids(s, dir)
    pqModel(s, dir)
    maxsimExact(s, dir).count()
    maxsimUnionExact(s, dir).count()
    bruteExact30(s, dir).count()
    bruteUnion30(s, dir).count()
    filteredBrute10(s, dir).count()
    IndexFixtures.shared(s, dir, "ivf")(buildIvf(s, dir))
    IndexFixtures.shared(s, dir, "ivfpq")(buildIvfPq(s, dir))
    IndexFixtures.shared(s, dir, "maxsim")(buildMaxsim(s, dir))
    IndexFixtures.shared(s, dir, "sketch")(buildSketch(s, dir))
    IndexFixtures.shared(s, dir, "warehouse")(buildWarehouse(s, dir))
  }

  /** Embeddings with planted near-dups (see q_dedup_embed): ids < 50, plus
    * ×2-scaled copies of ids < 25 and +0.1-first-component perturbations of
    * ids 25-49, planted at id + 100000. All arithmetic in double, mirroring
    * the DuckDB oracle expression for expression. */
  private def augmentedEmbeddings(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.VectorFunctions.asDouble
    val base = t(s, dir, "embeddings").where(col("vec_id") < 50)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val scaled = base.where(col("vec_id") < 25)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), x => x * 2.0).as("v"))
    val perturbed = base.where(col("vec_id") >= 25)
      .select((col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("v"), 1) + 0.1),
          slice(col("v"), 2, 63)).as("v"))
    base.union(scaled).union(perturbed)
  }
}
