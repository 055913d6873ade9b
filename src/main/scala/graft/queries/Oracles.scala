package graft.queries

/** DuckDB twins of every query in [[Queries]]. Same column names, same
  * exact arithmetic (fixed-point Long vectors, md5 hashes, integer
  * ratios) so values hash-match bit-for-bit — see SURVEY §3.
  */
object Oracles {

  /** The Spark side's fixed-point scale, interpolated into every
    * quantized-vector oracle (and squared where the engine divides a
    * dot/sum-of-squares) so the two engines can never silently
    * disagree on it. */
  private val vscale = graft.functions.VectorFunctions.DefaultScale
  private val vscale2 = vscale.toLong * vscale

  /** Fixed-point quantization of a float-list column (scale 10000). */
  private def qv(e: String): String =
    s"list_transform(CAST($e AS DOUBLE[]), x -> CAST(round(x * $vscale) AS BIGINT))"

  /** Exact integer squared-L2 between two quantized list columns. */
  private def l2sq(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(len($a)), i -> ($a[i+1]-$b[i+1])*($a[i+1]-$b[i+1]))) AS BIGINT)"

  /** Exact integer dot product. */
  private def idot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(len($a)), i -> $a[i+1]*$b[i+1])) AS BIGINT)"

  /** CTEs g/mm/mma/enc — gallery → per-dim (min,max) stats →
    * `levels`-scaled integer codes by exact floor division, clamped
    * to [0, levels] (identity on in-domain data; the clamp defines
    * out-of-domain inputs and makes `//` and Spark's pmod-based floor
    * division agree for ALL inputs — see Queries.sqEncodeCol). Shared
    * by the SQ8 (255) and SQ4 (15) twins so the quantizer arithmetic
    * is one definition. */
  private def sqEncCtes(levels: Int): String = s"""
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
mm AS (SELECT i, CAST(min(v[CAST(i AS INT)+1]) AS BIGINT) AS mn,
               CAST(max(v[CAST(i AS INT)+1]) AS BIGINT) AS mx
       FROM g CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1),
mma AS (SELECT list(mn ORDER BY i) AS mns,
               list(greatest(mx - mn, 1) ORDER BY i) AS rgs FROM mm),
enc AS (SELECT gid, list_transform(range(64),
              i -> greatest(0, least($levels,
                ((v[i+1] - mns[i+1]) * $levels) // rgs[i+1]))) AS cv
        FROM g CROSS JOIN mma)"""

  /** Scalar-quantizer code-space KNN (v17 = 255 levels, v82 = 15):
    * exact integer L2 on the codes, top-5 per query. `scanWhere`
    * restricts the scanned code rows (v109's tombstone filter —
    * applied BEFORE the ranking, v62's contract). */
  private def sqKnnSql(levels: Int, scanWhere: String = ""): String = s"""
WITH ${sqEncCtes(levels)},
q AS (SELECT gid AS query_id, cv AS qcv FROM enc WHERE gid % 100 = 0),
d AS (SELECT query_id, gid, ${l2sq("cv", "qcv")} AS d2c
      FROM enc CROSS JOIN q$scanWhere),
r AS (SELECT query_id, gid, d2c,
             row_number() OVER (PARTITION BY query_id ORDER BY d2c, gid) AS rnk
      FROM d)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2c) AS dist
FROM r WHERE rnk <= 5"""

  /** Distinct word n-gram shingles of `toks` (empty if too short). */
  private def shingleSql(toks: String, n: Int): String = {
    val joined = (1 to n).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")
    s"CASE WHEN len($toks) >= $n THEN list_distinct(list_transform(range(len($toks) - ${n - 1}), i -> $joined)) ELSE CAST([] AS VARCHAR[]) END"
  }

  private val stopList = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on')"

  /** CTE chain producing `f(doc_id BIGINT, simhash VARCHAR(64))` — the
    * naive SimHash fingerprint shared by d3 (fingerprints) and d6
    * (near-dup pairs). Votes via ascii() arithmetic on md5 hex chars,
    * identical to TextFunctions.simhash64. */
  private val simhashFpCtes: String = """
d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
tk AS (SELECT doc_id, unnest(toks) AS t FROM d),
h AS (SELECT doc_id, substr(md5(t), 1, 16) AS hx FROM tk),
hj AS (SELECT doc_id, hx, unnest(range(64)) AS j FROM h),
bits AS (SELECT doc_id, j,
                substr(hx, CAST(j // 4 AS INT) + 1, 1) AS c,
                [8,4,2,1][CAST(j % 4 AS INT) + 1] AS p
         FROM hj),
votes AS (SELECT doc_id, j,
                 sum((((CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87 ELSE ascii(c) - 48 END) // p) % 2) * 2 - 1) AS v
          FROM bits GROUP BY doc_id, j),
fp AS (SELECT doc_id,
              string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
       FROM votes GROUP BY doc_id),
-- NULL text unnests to zero token rows, so fp has no row for it; the
-- left join restores those docs with the all-zero fingerprint the
-- Spark side emits (empty token set -> zero votes -> 64 '0' bits)
f AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             coalesce(fp.simhash, repeat('0', 64)) AS simhash
      FROM d LEFT JOIN fp ON fp.doc_id = d.doc_id)"""

  /** CTE chain from a CTE `src(doc_id, toks, …)` to verified MinHash
    * near-dup pairs `v(a_id BIGINT, b_id BIGINT, inter, uni)` — the
    * exact twin of Dedup.minhashLsh's banding (shingle n=3, k=12
    * hashes, 4 bands of 3) INCLUDING the mega-bucket guard: band
    * buckets holding more than `maxBucket` docs generate no candidates
    * (Dedup.lshCandidates). Shared by d2/d10/d12/p1 (operational cap)
    * and d13 (binding cap) so the banding arithmetic can never diverge
    * between them. */
  private def minhashPairCtes(
      src: String,
      maxBucket: Long = graft.operators.Dedup.DefaultMaxBucket): String = s"""
s AS (SELECT doc_id, ${shingleSql("toks", 3)} AS sh FROM $src),
sg AS (SELECT doc_id, sh,
              list_transform(range(12), j -> list_min(list_transform(sh, x -> md5(CAST(j AS VARCHAR) || ':' || x)))) AS sig
       FROM s),
b AS (SELECT doc_id, j AS band_idx,
             md5(sig[3*j+1] || '|' || sig[3*j+2] || '|' || sig[3*j+3]) AS band_hash
      FROM sg, (SELECT unnest(range(4)) AS j)),
bk AS (SELECT b.* FROM b
       JOIN (SELECT band_idx, band_hash FROM b GROUP BY 1, 2
             HAVING count(*) <= $maxBucket) ok
       USING (band_idx, band_hash)),
cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM bk x JOIN bk y ON x.band_idx = y.band_idx
          AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
v AS (SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
             CAST(len(list_filter(sa.sh, e -> list_contains(sb.sh, e))) AS BIGINT) AS inter,
             CAST(len(sa.sh) + len(sb.sh) AS BIGINT)
               - CAST(len(list_filter(sa.sh, e -> list_contains(sb.sh, e))) AS BIGINT) AS uni
      FROM cand JOIN s sa ON sa.doc_id = cand.a_id JOIN s sb ON sb.doc_id = cand.b_id)"""

  /** Exact Hamming distance between two 64-char bit-string columns. */
  private def hammingSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(range(64), i ->
               CASE WHEN substr($a, CAST(i AS INT) + 1, 1)
                         = substr($b, CAST(i AS INT) + 1, 1)
                    THEN 0 ELSE 1 END)) AS BIGINT)"""

  /** CTE chain from a fingerprint CTE `src(doc_id, simhash)` to banded
    * candidate pairs `sc(a_id, b_id)` — the exact twin of
    * Dedup.simhashDupFromFp's candidate generation (4 bands × 16 bits)
    * INCLUDING the mega-bucket guard: band buckets holding more than
    * `maxBucket` rows generate no candidates. The oracle bands on the
    * 16-char bit substring where Spark bands on its conv()'d Long —
    * the two are bijective, so bucket membership is identical. Shared
    * by d6 (operational cap), d14 (binding cap), and d7 (contracted
    * representatives) so the banding arithmetic can never diverge. */
  private def simhashBandCtes(src: String, maxBucket: Long): String = s"""
bb AS (SELECT doc_id, j AS band_idx,
              substr(simhash, CAST(16 * j AS INT) + 1, 16) AS band_val
       FROM $src, (SELECT unnest(range(4)) AS j)),
ok AS (SELECT band_idx, band_val FROM bb GROUP BY 1, 2
       HAVING count(*) <= $maxBucket),
bk AS (SELECT bb.* FROM bb JOIN ok USING (band_idx, band_val)),
sc AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       FROM bk x JOIN bk y ON x.band_idx = y.band_idx
        AND x.band_val = y.band_val AND x.doc_id < y.doc_id)"""

  /** Recursive reachability over an undirected pair set: nodes from
    * `$nodes(doc_id, …)`, edges from `$pairs(a_id, b_id)` →
    * `res(id, cluster_id)` with cluster_id = min reachable id — the
    * twin of Clustering.connectedComponents. Shared by d7 and p1. */
  private def reachCtes(nodes: String, pairs: String): String = s"""
ed AS (SELECT a_id AS src, b_id AS dst FROM $pairs
       UNION ALL SELECT b_id, a_id FROM $pairs),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM $nodes
  UNION
  SELECT ed.dst, reach.root FROM reach JOIN ed ON ed.src = reach.id),
res AS (SELECT id, CAST(min(root) AS BIGINT) AS cluster_id
        FROM reach GROUP BY id)"""

  /** One exact Lloyd round as CTEs: from assignment `asn${r-1}(gid,
    * lab)` to `asn$r(gid, lab)` via per-cluster (n, HUGEINT sum) and
    * the scaled-distance reassignment `sqrt(A)/(n·scale)` — the v18
    * arithmetic, templated so v26's chain and the single-round gate
    * share one definition. */
  private def lloydRoundCtes(r: Int): String = s"""
cnt$r AS (SELECT lab AS c, CAST(count(*) AS BIGINT) AS n
          FROM asn${r - 1} GROUP BY 1),
cm$r AS (SELECT a.lab AS c, i, sum(g.v[CAST(i AS INT)+1]) AS s
         FROM asn${r - 1} a JOIN g ON g.gid = a.gid
         CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
d$r AS (SELECT g.gid, m.c AS lab, cnt$r.n,
               sum((cnt$r.n * g.v[CAST(m.i AS INT)+1] - m.s)
                     * (cnt$r.n * g.v[CAST(m.i AS INT)+1] - m.s)) AS a2
        FROM g CROSS JOIN cm$r m JOIN cnt$r ON cnt$r.c = m.c
        GROUP BY 1, 2, 3),
r$r AS (SELECT gid, lab,
               row_number() OVER (PARTITION BY gid
                 ORDER BY sqrt(a2) / CAST(n * $vscale AS DOUBLE), lab) AS rn
        FROM d$r),
asn$r AS (SELECT gid, lab FROM r$r WHERE rn = 1)"""

  /** One exact Lloyd round on the PQ (subspace, code) grid — v26's
    * round template keyed by (j, lab): from `pasn${r-1}(gid, j, lab)`
    * to `pasn$r` via per-(j, lab) (n, HUGEINT sum) over the sliced
    * state `sv(gid, j, sv)` and the scaled-distance reassignment
    * `sqrt(A)/(n·scale)` — all 8×16 codebook clusters advance in one
    * template application, mirroring the Spark side's single shared
    * pass (see Queries.v78TrainedPq). */
  private def pqLloydRoundCtes(r: Int): String = s"""
pcnt$r AS (SELECT j, lab, CAST(count(*) AS BIGINT) AS n
           FROM pasn${r - 1} GROUP BY 1, 2),
pcm$r AS (SELECT a.j, a.lab, i, sum(s.sv[CAST(i AS INT)+1]) AS sm
          FROM pasn${r - 1} a JOIN sv s ON s.gid = a.gid AND s.j = a.j
          CROSS JOIN (SELECT unnest(range(8)) AS i) GROUP BY 1, 2, 3),
pd$r AS (SELECT s.gid, s.j, m.lab, pcnt$r.n,
                sum((pcnt$r.n * s.sv[CAST(m.i AS INT)+1] - m.sm)
                      * (pcnt$r.n * s.sv[CAST(m.i AS INT)+1] - m.sm)) AS a2
         FROM sv s JOIN pcm$r m ON m.j = s.j
         JOIN pcnt$r ON pcnt$r.j = m.j AND pcnt$r.lab = m.lab
         GROUP BY 1, 2, 3, 4),
pr$r AS (SELECT gid, j, lab,
                row_number() OVER (PARTITION BY gid, j
                  ORDER BY sqrt(a2) / CAST(n * $vscale AS DOUBLE), lab) AS rn
         FROM pd$r),
pasn$r AS (SELECT gid, j, lab FROM pr$r WHERE rn = 1)"""

  /** The trained-codebook PQ chain as CTEs (sliced state → first-16
    * seed sub-slices → three (j, lab)-keyed Lloyd rounds → grid-
    * floored trained codebooks `tcb` → v11's encode/ADC shape →
    * ranked `rk`), shared verbatim by v78 (train per run), v87
    * (persisted trained index — bit-transparent, so the twin IS the
    * rebuild chain) and v89's recall eval. Exposes `g` (gallery) and
    * `rk` (ranked ADC results) for composition. */
  private def trainedPqCtes: String = s"""g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
jj AS (SELECT unnest(range(8)) AS j),
sv AS (SELECT gid, j, list_transform(range(8), i -> v[CAST(8*j+i AS INT)+1]) AS sv
       FROM g CROSS JOIN jj),
cb0 AS (SELECT j, gid AS cid, sv AS cv FROM sv WHERE gid < 16),
pasn0 AS (SELECT gid, j, cid AS lab FROM (
            SELECT s.gid, s.j, c.cid,
                   row_number() OVER (PARTITION BY s.gid, s.j
                     ORDER BY ${l2sq("s.sv", "c.cv")}, c.cid) AS rn
            FROM sv s JOIN cb0 c ON c.j = s.j) WHERE rn = 1),
${(1 to 3).map(pqLloydRoundCtes).mkString(",\n")},
tn AS (SELECT j, lab, CAST(count(*) AS BIGINT) AS n FROM pasn3 GROUP BY 1, 2),
tm AS (SELECT a.j, a.lab, i, sum(s.sv[CAST(i AS INT)+1]) AS sm
       FROM pasn3 a JOIN sv s ON s.gid = a.gid AND s.j = a.j
       CROSS JOIN (SELECT unnest(range(8)) AS i) GROUP BY 1, 2, 3),
tcb AS (SELECT m.j, m.lab AS cid,
               list(CAST(floor(CAST(m.sm AS DOUBLE) / tn.n) AS BIGINT)
                 ORDER BY i) AS cv
        FROM tm m JOIN tn ON tn.j = m.j AND tn.lab = m.lab GROUP BY 1, 2),
enc AS (SELECT gid, j, code FROM (
          SELECT s.gid, s.j, t.cid AS code,
                 row_number() OVER (PARTITION BY s.gid, s.j
                   ORDER BY ${l2sq("s.sv", "t.cv")}, t.cid) AS rn
          FROM sv s JOIN tcb t ON t.j = s.j) WHERE rn = 1),
q AS (SELECT gid AS query_id, j, sv AS qsv FROM sv WHERE gid % 100 = 0),
adc AS (SELECT q.query_id, e.gid,
               CAST(sum(${l2sq("q.qsv", "t.cv")}) AS BIGINT) AS adc
        FROM enc e JOIN tcb t ON t.j = e.j AND t.cid = e.code
        JOIN q ON q.j = e.j
        GROUP BY 1, 2),
rk AS (SELECT query_id, gid, adc,
              row_number() OVER (PARTITION BY query_id ORDER BY adc, gid) AS rnk
       FROM adc)"""

  /** v68's trained residual-IVFPQ chain as CTEs (3 Lloyd rounds ->
    * grid-floored trained centroids -> v21's integer residual/
    * codebook/ADC chain), ending in the ranked `rk`. Shared by v68,
    * v91 (verbatim via the map) and v93's recall eval. */
  private def trainedIvfpqCtes: String = s"""g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
c AS (SELECT gid AS cid, v AS cv FROM g WHERE gid < 10),
asn0 AS (SELECT gid, cid AS lab FROM (
          SELECT g.gid, c.cid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "c.cv")}, c.cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
${(1 to 3).map(lloydRoundCtes).mkString(",\n")},
cnt4 AS (SELECT lab AS c, CAST(count(*) AS BIGINT) AS n
         FROM asn3 GROUP BY 1),
cm4 AS (SELECT a.lab AS c, i, sum(g.v[CAST(i AS INT)+1]) AS s
        FROM asn3 a JOIN g ON g.gid = a.gid
        CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
tc AS (SELECT m.c AS ccid,
              list(CAST(floor(CAST(m.s AS DOUBLE) / cnt4.n) AS BIGINT)
                ORDER BY m.i) AS cv
       FROM cm4 m JOIN cnt4 ON cnt4.c = m.c GROUP BY 1),
asn AS (SELECT gid, ccid AS acid FROM (
          SELECT g.gid, t.ccid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "t.cv")}, t.ccid) AS rn
          FROM g CROSS JOIN tc t) WHERE rn = 1),
r AS (SELECT g.gid, asn.acid,
             list_transform(range(64), i -> g.v[i+1] - t.cv[i+1]) AS rv
      FROM g JOIN asn USING (gid) JOIN tc t ON t.ccid = asn.acid),
cb AS (SELECT gid AS cid, rv AS cbv FROM r WHERE gid < 16),
jj AS (SELECT unnest(range(8)) AS j),
enc AS (SELECT gid, acid, j, cid AS code FROM (
          SELECT r.gid, r.acid, jj.j, cb.cid,
                 row_number() OVER (PARTITION BY r.gid, jj.j
                   ORDER BY ${subL2("r.rv", "cb.cbv", "jj.j", 8)}, cb.cid) AS rn
          FROM r CROSS JOIN jj CROSS JOIN cb) WHERE rn = 1),
q AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
probe AS (SELECT query_id, ccid AS pcid FROM (
            SELECT q.query_id, t.ccid,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${l2sq("q.qvec", "t.cv")}, t.ccid) AS rn
            FROM q CROSS JOIN tc t) WHERE rn <= 2),
qr AS (SELECT p.query_id, p.pcid,
              list_transform(range(64), i -> q.qvec[i+1] - t.cv[i+1]) AS qres
       FROM probe p JOIN q USING (query_id) JOIN tc t ON t.ccid = p.pcid),
adc AS (SELECT qr.query_id, e.gid,
               CAST(sum(${subL2("qr.qres", "cb.cbv", "e.j", 8)}) AS BIGINT) AS adc
        FROM qr
        JOIN enc e ON e.acid = qr.pcid
        JOIN cb ON cb.cid = e.code
        GROUP BY 1, 2),
rk AS (SELECT query_id, gid, adc,
              row_number() OVER (PARTITION BY query_id ORDER BY adc, gid) AS rnk
       FROM adc)"""

  /** v123's staged warm-retrain chain: v68's trained CTEs (tc / asn /
    * enc ARE the depth-4 store), ONE more floored-mean round seeded
    * from the STORED assignment (cnt5w/cm5w → tc5), the map-only
    * reassignment asn5, the migrated set (assignment changed), the
    * re-encode of ONLY migrated rows under the FIXED codebook `cb`,
    * and the nprobe=2 residual-ADC search routed against the
    * REFRESHED centroids over the mixed codes — unmigrated rows keep
    * their depth-4 code bytes verbatim (the deterministic staleness a
    * staged rollout serves). */
  private def ivfpqRetrainCtes: String = s"""$trainedIvfpqCtes,
cnt5w AS (SELECT acid AS c, CAST(count(*) AS BIGINT) AS n
          FROM asn GROUP BY 1),
cm5w AS (SELECT a.acid AS c, i, sum(g.v[CAST(i AS INT)+1]) AS s
         FROM asn a JOIN g ON g.gid = a.gid
         CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
tc5 AS (SELECT m.c AS ccid,
               list(CAST(floor(CAST(m.s AS DOUBLE) / cnt5w.n) AS BIGINT)
                 ORDER BY m.i) AS cv
        FROM cm5w m JOIN cnt5w ON cnt5w.c = m.c GROUP BY 1),
asn5 AS (SELECT gid, ccid AS acid FROM (
          SELECT g.gid, t.ccid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "t.cv")}, t.ccid) AS rn
          FROM g CROSS JOIN tc5 t) WHERE rn = 1),
mig AS (SELECT a5.gid FROM asn5 a5 JOIN asn a4 ON a4.gid = a5.gid
        WHERE a5.acid <> a4.acid),
r5 AS (SELECT g.gid, a5.acid,
              list_transform(range(64), i -> g.v[i+1] - t.cv[i+1]) AS rv
       FROM g JOIN asn5 a5 ON a5.gid = g.gid
       JOIN tc5 t ON t.ccid = a5.acid
       WHERE g.gid IN (SELECT gid FROM mig)),
enc5 AS (SELECT gid, acid, j, cid AS code FROM (
          SELECT r5.gid, r5.acid, jj.j, cb.cid,
                 row_number() OVER (PARTITION BY r5.gid, jj.j
                   ORDER BY ${subL2("r5.rv", "cb.cbv", "jj.j", 8)}, cb.cid) AS rn
          FROM r5 CROSS JOIN jj CROSS JOIN cb) WHERE rn = 1),
encx AS (SELECT gid, acid, j, code FROM enc
         WHERE gid NOT IN (SELECT gid FROM mig)
         UNION ALL SELECT gid, acid, j, code FROM enc5),
probe5 AS (SELECT query_id, ccid AS pcid FROM (
            SELECT q.query_id, t.ccid,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${l2sq("q.qvec", "t.cv")}, t.ccid) AS rn
            FROM q CROSS JOIN tc5 t) WHERE rn <= 2),
qr5 AS (SELECT p.query_id, p.pcid,
              list_transform(range(64), i -> q.qvec[i+1] - t.cv[i+1]) AS qres
       FROM probe5 p JOIN q USING (query_id) JOIN tc5 t ON t.ccid = p.pcid),
adc5 AS (SELECT qr5.query_id, e.gid,
               CAST(sum(${subL2("qr5.qres", "cb.cbv", "e.j", 8)}) AS BIGINT) AS adc
        FROM qr5
        JOIN encx e ON e.acid = qr5.pcid
        JOIN cb ON cb.cid = e.code
        GROUP BY 1, 2),
rk5 AS (SELECT query_id, gid, adc,
              row_number() OVER (PARTITION BY query_id ORDER BY adc, gid) AS rnk
       FROM adc5)"""

  /** The trained-IVF ROUTE: gallery, seed centroids, 3 unrolled Lloyd
    * rounds, queries, and the per-query trained-centroid ranking `qr`
    * — shared by the nprobe=2 serving twins (v65/v90/v92 via
    * [[trainedIvfCtes]]) and v97's nprobe sweep, so the routing
    * arithmetic is one definition. */
  private def trainedIvfRouteCtes: String = trainedIvfRouteCtesR(4)

  /** The deterministic k-means++ selection as CTEs (expects the
    * gallery `g(gid, v)` in scope): the bounded hash-ordered sample
    * `smp` (Sampling.KppSampleSize rows), the uniform first seed s1
    * at rank 1 + ⌊n·a₀/2³¹⌋, then nine exact inverse-CDF rounds — per
    * round the D²-to-nearest-selected of every sample point, the
    * (h, id)-ordered prefix sum, and the FIRST point with
    * cum·2³¹ > T·a_r (HUGEINT products — no float compares). The
    * a_r literals are Sampling.kppThreshold values, interpolated so
    * the draw has ONE definition. Ends with selall(rnk, id). */
  private def kppSelectionCtes: String = {
    val h = "((gid % 2147483647) * 2654435761) % 2147483647"
    val rounds = (1 to 9).map { r =>
      val ar = graft.operators.Sampling.kppThreshold(r)
      s"""sv$r AS MATERIALIZED (SELECT smp.v AS sv FROM sel$r JOIN smp ON smp.id = sel$r.id),
dm$r AS MATERIALIZED (SELECT p.id, p.h, min(${l2sq("p.v", "s.sv")}) AS dmin
         FROM smp p CROSS JOIN sv$r s GROUP BY 1, 2),
kc$r AS (SELECT id, h, dmin,
                sum(dmin) OVER (ORDER BY h, id
                  ROWS UNBOUNDED PRECEDING) AS cum,
                sum(dmin) OVER () AS t
         FROM dm$r),
s${r + 1} AS MATERIALIZED (SELECT id FROM (
            SELECT id, row_number() OVER (ORDER BY h, id) AS rn
            FROM kc$r
            WHERE CAST(cum AS HUGEINT) * 2147483648 >
                  CAST(t AS HUGEINT) * $ar) WHERE rn = 1),
sel${r + 1} AS MATERIALIZED (SELECT rnk, id FROM sel$r
          UNION ALL SELECT ${r + 1} AS rnk, id FROM s${r + 1})"""
    }.mkString(",\n")
    s"""smp AS MATERIALIZED (SELECT id, v, h FROM (
         SELECT gid AS id, v, $h AS h,
                row_number() OVER (ORDER BY $h, gid) AS srn
         FROM g) WHERE srn <= ${graft.operators.Sampling.KppSampleSize}),
s1 AS MATERIALIZED (SELECT id FROM (
         SELECT id, row_number() OVER (ORDER BY h, id) AS rn FROM smp)
       WHERE rn = 1 + ((SELECT CAST(count(*) AS BIGINT) FROM smp)
                        * ${graft.operators.Sampling.kppThreshold(0)})
                      // 2147483648),
sel1 AS MATERIALIZED (SELECT 1 AS rnk, id FROM s1),
$rounds,
selall AS MATERIALIZED (SELECT rnk, id FROM sel10)"""
  }

  /** The trained-IVF route at an arbitrary round depth `r`: rounds
    * 1..r of the shared Lloyd template, queries routed against the
    * round-r (n, Σ) state. r=4 is the standard trained chain (3
    * training rounds + the ADD step); r=5 is v111's warm-restart
    * retrain (ONE more round from the stored round-4 state — the
    * template composes, so the warm round needs no new arithmetic).
    * `preCtes` (must start with "\n" and end with ",") injects extra
    * CTEs between the gallery and the seed set, and `seedSel`
    * overrides the seed-centroid SELECT — v128 routes the SAME chain
    * from the k-means++ seeds; the defaults reproduce the original
    * template byte-for-byte. */
  private def trainedIvfRouteCtesR(
      r: Int, preCtes: String = "",
      seedSel: String = "SELECT gid AS cid, v AS cv FROM g WHERE gid < 10")
      : String = s"""g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),$preCtes
c AS ($seedSel),
asn0 AS (SELECT gid, cid AS lab FROM (
          SELECT g.gid, c.cid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "c.cv")}, c.cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
${(1 to r).map(lloydRoundCtes).mkString(",\n")},
q AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
qd AS (SELECT q.query_id, m.c AS lab, cnt$r.n,
              sum((cnt$r.n * q.qvec[CAST(m.i AS INT)+1] - m.s)
                    * (cnt$r.n * q.qvec[CAST(m.i AS INT)+1] - m.s)) AS a2
       FROM q CROSS JOIN cm$r m JOIN cnt$r ON cnt$r.c = m.c
       GROUP BY 1, 2, 3),
qr AS (SELECT query_id, lab,
              row_number() OVER (PARTITION BY query_id
                ORDER BY sqrt(a2) / CAST(n * $vscale AS DOUBLE), lab) AS rn
       FROM qd)"""

  /** One probe depth over the routed queries: the probe set (rn ≤
    * np), the probed-partition scan, and its ranking — suffix-
    * parameterized so v97 instantiates three depths in one statement
    * (empty suffix + np=2 reproduces the serving twins' chain). */
  private def trainedIvfProbeCtes(np: Int, sfx: String,
                                  r: Int = 4): String =
    s"""pr$sfx AS (SELECT query_id, lab FROM qr WHERE rn <= $np),
sc$sfx AS (SELECT p.query_id, a.gid, ${l2sq("gv.v", "q.qvec")} AS d2
       FROM pr$sfx p JOIN asn$r a ON a.lab = p.lab
       JOIN g gv ON gv.gid = a.gid
       JOIN q ON q.query_id = p.query_id),
rr$sfx AS (SELECT query_id, gid, d2,
              row_number() OVER (PARTITION BY query_id
                ORDER BY d2, gid) AS rnk
       FROM sc$sfx)"""

  /** v65's trained-IVF chain as CTEs (3 Lloyd rounds + the add step
    * asn4 + probe routing), ending in the ranked `rr`. Shared by v65,
    * v90 (verbatim via the map) and v92's recall eval. */
  private def trainedIvfCtes: String = s"""$trainedIvfRouteCtes,
${trainedIvfProbeCtes(2, "")}"""

  /** One greedy MMR step as CTEs: from `sel${t-1}(query_id, pick_rnk,
    * gid, d2)` to `sel$t` by picking, per query, the remaining top-10
    * candidate maximizing the exact-integer objective
    * `min_sel ds − d2q` (ties to smaller gid). Expects `c10(query_id,
    * gid, d2, rnk)` and the candidate-pair distances `ds(query_id,
    * a_gid, b_gid, ds)` to be in scope — see v73. */
  private def mmrStepCtes(t: Int): String = s"""
m$t AS (SELECT ds.query_id, ds.a_gid AS gid, min(ds.ds) AS minsel
        FROM ds JOIN sel${t - 1} s
          ON s.query_id = ds.query_id AND s.gid = ds.b_gid
        GROUP BY 1, 2),
p$t AS (SELECT query_id, $t AS pick_rnk, gid, d2 FROM (
         SELECT c.query_id, c.gid, c.d2,
                row_number() OVER (PARTITION BY c.query_id
                  ORDER BY (m$t.minsel - c.d2) DESC, c.gid) AS rn
         FROM c10 c
         JOIN m$t ON m$t.query_id = c.query_id AND m$t.gid = c.gid
         WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} s
                           WHERE s.query_id = c.query_id AND s.gid = c.gid))
        WHERE rn = 1),
sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM p$t)"""

  /** The greedy graph-walk query (v28 bucket-blocked graph + 3-step
    * monotone descent from the min-id entry), shared verbatim by
    * v57 (in-session build) and v64 (persisted edge list) — the two
    * gates differ only in HOW the Spark side obtains the edges, so
    * their twins must be one definition. */
  private def graphWalkSql: String = s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                ${l2sq("x.v", "y.v")} AS d2
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.gid <> y.gid),
r AS (SELECT src_id, dst_id, d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY d2, dst_id) AS rnk
      FROM cand),
e AS (SELECT src_id, dst_id FROM r WHERE rnk <= 3),
q AS (SELECT gid AS query_id, v AS qv FROM g WHERE gid % 100 = 0),
s0 AS (SELECT query_id, (SELECT min(gid) FROM g) AS cur FROM q),
${(1 to 3).map(i => s"""c$i AS (SELECT query_id, cur AS nid FROM s${i - 1}
       UNION ALL
       SELECT s.query_id, e.dst_id AS nid
       FROM s${i - 1} s JOIN e ON e.src_id = s.cur),
s$i AS (SELECT query_id, nid AS cur FROM (
          SELECT c.query_id, c.nid,
                 row_number() OVER (PARTITION BY c.query_id
                   ORDER BY ${l2sq("gv.v", "q.qv")}, c.nid) AS rn
          FROM c$i c JOIN g gv ON gv.gid = c.nid
          JOIN q ON q.query_id = c.query_id) WHERE rn = 1)""")
  .mkString(",\n")}
SELECT s3.query_id, s3.cur AS node_id,
       sqrt(${l2sq("gv.v", "q.qv")}) / $vscale.0 AS dist
FROM s3 JOIN g gv ON gv.gid = s3.cur
JOIN q ON q.query_id = s3.query_id"""

  /** The layer-0 graph + query CTEs of the beam family: gallery `g`,
    * LSH-bucketed `b`, bucket-blocked ranked edges `e` (k=3), queries
    * `q`. Shared by v79/v81/v85 (beam from the global min-id entry)
    * and v88 (beam from the coarse-walk winner). */
  private def beamGraphCtes: String = s"""g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                ${l2sq("x.v", "y.v")} AS d2
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.gid <> y.gid),
r AS (SELECT src_id, dst_id, d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY d2, dst_id) AS rnk
      FROM cand),
e AS (SELECT src_id, dst_id FROM r WHERE rnk <= 3),
q AS (SELECT gid AS query_id, v AS qv FROM g WHERE gid % 100 = 0)"""

  /** Three unrolled beam steps from an in-scope `f0$sfx(query_id,
    * nid)` frontier, parameterized by ef and a CTE-name suffix — ONE
    * definition, so the flat-entry beams (ef=4, empty suffix), v88's
    * hierarchical-entry beam, and v96's three-ef curve walks cannot
    * drift in walk semantics. */
  private def beamLoopCtesEf(ef: Int, sfx: String): String =
    (1 to 3).map(i => s"""c$i$sfx AS (SELECT DISTINCT query_id, nid FROM (
         SELECT query_id, nid FROM f${i - 1}$sfx
         UNION ALL
         SELECT f.query_id, e.dst_id AS nid
         FROM f${i - 1}$sfx f JOIN e ON e.src_id = f.nid) t),
fr$i$sfx AS (SELECT c.query_id, c.nid, ${l2sq("gv.v", "q.qv")} AS d2,
                row_number() OVER (PARTITION BY c.query_id
                  ORDER BY ${l2sq("gv.v", "q.qv")}, c.nid) AS rn
         FROM c$i$sfx c JOIN g gv ON gv.gid = c.nid
         JOIN q ON q.query_id = c.query_id),
f$i$sfx AS (SELECT query_id, nid FROM fr$i$sfx WHERE rn <= $ef)""")
      .mkString(",\n")

  private def beamLoopCtes: String = beamLoopCtesEf(4, "")

  /** The ef=4 BEAM-search CTE chain (v28's bucket-blocked graph + 3
    * unrolled frontier-expansion steps: candidates = DISTINCT(frontier
    * ∪ neighbors(frontier)), keep the ef best by (d2, nid)), shared by
    * v79 (the search) and v81 (its recall row) so the walk arithmetic
    * cannot diverge between them. Exposes `fr3(query_id, nid, d2, rn)`
    * (the final frontier ranking) and `f3` (its rn ≤ 4 cut). */
  private def beamSearchCtes: String = s"""
$beamGraphCtes,
f0 AS (SELECT query_id, (SELECT min(gid) FROM g) AS nid FROM q),
$beamLoopCtes"""

  /** The three tombstone-aware beam steps from an in-scope
    * `f0(query_id, nid)` frontier — ONE definition shared by v108
    * (flat alive entry) and v118 (hierarchical entry), mirroring the
    * Spark side's one walk (GraphIndex.walk with the delete set). */
  private def tombBeamLoopCtes: String =
    (1 to 3).map(i => s"""nb$i AS (SELECT f.query_id, e.dst_id AS nid
         FROM f${i - 1} f JOIN e ON e.src_id = f.nid),
by$i AS (SELECT n.query_id, e.dst_id AS nid
         FROM nb$i n JOIN e ON e.src_id = n.nid WHERE n.nid % 7 = 0),
c$i AS (SELECT DISTINCT query_id, nid FROM (
          SELECT query_id, nid FROM f${i - 1}
          UNION ALL SELECT query_id, nid FROM nb$i
          UNION ALL SELECT query_id, nid FROM by$i) t
        WHERE nid % 7 <> 0),
fr$i AS (SELECT c.query_id, c.nid, ${l2sq("gv.v", "q.qv")} AS d2,
                row_number() OVER (PARTITION BY c.query_id
                  ORDER BY ${l2sq("gv.v", "q.qv")}, c.nid) AS rn
         FROM c$i c JOIN g gv ON gv.gid = c.nid
         JOIN q ON q.query_id = c.query_id),
f$i AS (SELECT query_id, nid FROM fr$i WHERE rn <= 4)""")
      .mkString(",\n")

  /** v119's CTEs: the beam walk over the graph REBUILT FROM THE
    * ALIVE CORPUS — compaction's transparency target (compacted ≡
    * rebuilt, so the oracle builds the alive graph directly). Queries
    * stay the FULL gallery's % 100 set; entry = min alive gid. */
  private def compactedBeamCtes: String = s"""
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
ga AS (SELECT gid, v FROM g WHERE gid % 7 <> 0),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM ga),
cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                ${l2sq("x.v", "y.v")} AS d2
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.gid <> y.gid),
r AS (SELECT src_id, dst_id, d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY d2, dst_id) AS rnk
      FROM cand),
e AS (SELECT src_id, dst_id FROM r WHERE rnk <= 3),
q AS (SELECT gid AS query_id, v AS qv FROM g WHERE gid % 100 = 0),
f0 AS (SELECT query_id, (SELECT min(gid) FROM ga) AS nid FROM q),
$beamLoopCtes"""

  /** The tombstone-aware beam walk (v108): the shared layer-0 graph
    * CTEs with the delete set applied — entry = min ALIVE gid, each
    * step expands frontier ∪ neighbors ∪ the one-hop BYPASS through
    * dead neighbors (a dead neighbor contributes its own neighbors
    * instead of itself), dead nodes dropped before scoring, top-ef
    * kept. Exposes g/q/fr3/f3 like the other walk CTE sets so the
    * shared recall tail composes. */
  private def tombBeamCtes: String = s"""
$beamGraphCtes,
f0 AS (SELECT query_id, (SELECT min(gid) FROM g WHERE gid % 7 <> 0) AS nid
       FROM q),
$tombBeamLoopCtes"""

  /** v118's CTEs: the shared layer-0 graph, v88's coarse layer over
    * the portable-hash subset, the tombstone-aware width-1 descent
    * (dead coarse nodes excluded from the state, bypassed through
    * their edges, entry = the subset's min ALIVE id), then the SHARED
    * tombstone beam seeded by the descent winner. */
  private def tombHnswCtes: String = s"""
$beamGraphCtes,
sg AS (SELECT gid, v, bucket FROM b
       WHERE ((gid % 2147483647) * 2654435761) % 2147483647 % 5 = 0),
scand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                 ${l2sq("x.v", "y.v")} AS d2
          FROM sg x JOIN sg y ON x.bucket = y.bucket AND x.gid <> y.gid),
sr AS (SELECT src_id, dst_id, d2,
              row_number() OVER (PARTITION BY src_id
                ORDER BY d2, dst_id) AS rnk
       FROM scand),
se AS (SELECT src_id, dst_id FROM sr WHERE rnk <= 3),
w0 AS (SELECT query_id, (SELECT min(gid) FROM sg WHERE gid % 7 <> 0) AS cur
       FROM q),
${(1 to 3).map(i => s"""wnb$i AS (SELECT s.query_id, se.dst_id AS nid
         FROM w${i - 1} s JOIN se ON se.src_id = s.cur),
wby$i AS (SELECT n.query_id, se.dst_id AS nid
          FROM wnb$i n JOIN se ON se.src_id = n.nid WHERE n.nid % 7 = 0),
wc$i AS (SELECT DISTINCT query_id, nid FROM (
           SELECT query_id, cur AS nid FROM w${i - 1}
           UNION ALL SELECT query_id, nid FROM wnb$i
           UNION ALL SELECT query_id, nid FROM wby$i) t
         WHERE nid % 7 <> 0),
w$i AS (SELECT query_id, nid AS cur FROM (
          SELECT c.query_id, c.nid,
                 row_number() OVER (PARTITION BY c.query_id
                   ORDER BY ${l2sq("gv.v", "q.qv")}, c.nid) AS rn
          FROM wc$i c JOIN sg gv ON gv.gid = c.nid
          JOIN q ON q.query_id = c.query_id) WHERE rn = 1)""")
  .mkString(",\n")},
f0 AS (SELECT query_id, cur AS nid FROM w3),
$tombBeamLoopCtes"""

  /** The beam-family recall row over a full walk CTE set (must expose
    * g, q, fr3, f3): rank-1 endpoint vs the exact top-5 + final-
    * frontier hit count — one definition shared by v81 (flat entry),
    * v94 (hierarchical entry), and v113 (tombstone-aware walk, whose
    * exact side is restricted to the alive corpus via `dexWhere`). */
  private def beamRecallSql(walkCtes: String,
                            dexWhere: String = ""): String = s"""
WITH $walkCtes,
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qv")} AS d2
        FROM g CROSS JOIN q$dexWhere),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid, rnk FROM rex WHERE rnk <= 5),
b1 AS (SELECT query_id, nid FROM fr3 WHERE rn = 1),
hits AS (SELECT f.query_id, CAST(count(hx.gid) AS BIGINT) AS frontier_hits
         FROM f3 f LEFT JOIN hx ON hx.query_id = f.query_id
           AND hx.gid = f.nid
         GROUP BY 1)
SELECT b1.query_id, b1.nid AS node_id,
       CAST(coalesce(h2.rnk, 0) AS BIGINT) AS exact_rank,
       CAST(CASE WHEN h2.rnk IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS in_top5,
       hits.frontier_hits
FROM b1 LEFT JOIN hx h2 ON h2.query_id = b1.query_id AND h2.gid = b1.nid
JOIN hits ON hits.query_id = b1.query_id"""

  /** A coarse LAYER's edge-list CTEs: the `pfx`-prefixed sampled
    * gallery (hash % `modBy` = 0 — v9's portable-hash contract),
    * bucket-blocked candidates, and the ranked top-3 edges
    * `${pfx}e`. Shared by v88's single coarse layer (pfx "s",
    * mod 5) and v122's two (pfx "s"/"t", mod 5/25), so the layer
    * build arithmetic is one definition at every depth. */
  private def coarseLayerCtes(pfx: String, modBy: Int): String = s"""${pfx}g AS (SELECT gid, v, bucket FROM b
       WHERE ((gid % 2147483647) * 2654435761) % 2147483647 % $modBy = 0),
${pfx}cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                 ${l2sq("x.v", "y.v")} AS d2
          FROM ${pfx}g x JOIN ${pfx}g y ON x.bucket = y.bucket AND x.gid <> y.gid),
${pfx}r AS (SELECT src_id, dst_id, d2,
              row_number() OVER (PARTITION BY src_id
                ORDER BY d2, dst_id) AS rnk
       FROM ${pfx}cand),
${pfx}e AS (SELECT src_id, dst_id FROM ${pfx}r WHERE rnk <= 3)"""

  /** Three unrolled width-1 greedy descent steps over one coarse
    * layer, from an in-scope `$walk0(query_id, cur)` state: each step
    * considers {current} ∪ layer-neighbors(current), scores against
    * the layer's gallery `$lg`, keeps the (d2, nid)-min. ONE
    * definition shared by v88's layer-1 walk and both of v122's upper
    * layers — descent semantics cannot drift between hierarchy
    * depths (the Spark side's GraphIndex.walk at ef = 1, mirrored). */
  private def coarseWalkSteps(walk: String, edges: String,
                              lg: String): String =
    (1 to 3).map(i => s"""${walk}c$i AS (SELECT query_id, cur AS nid FROM $walk${i - 1}
        UNION ALL
        SELECT s.query_id, $edges.dst_id AS nid
        FROM $walk${i - 1} s JOIN $edges ON $edges.src_id = s.cur),
$walk$i AS (SELECT query_id, nid AS cur FROM (
          SELECT c.query_id, c.nid,
                 row_number() OVER (PARTITION BY c.query_id
                   ORDER BY ${l2sq("gv.v", "q.qv")}, c.nid) AS rn
          FROM ${walk}c$i c JOIN $lg gv ON gv.gid = c.nid
          JOIN q ON q.query_id = c.query_id) WHERE rn = 1)""")
      .mkString(",\n")

  /** v88's CTEs: the shared layer-0 graph, a coarse layer-1 graph over
    * the portable-hash subset (hash % 5 = 0 — v9's contract), v57's
    * 3-step greedy walk over the coarse edges, then the SHARED beam
    * loop seeded by the walk winner. */
  private def hnswEntryCtes: String = s"""
$beamGraphCtes,
${coarseLayerCtes("s", 5)},
w0 AS (SELECT query_id, (SELECT min(gid) FROM sg) AS cur FROM q),
${coarseWalkSteps("w", "se", "sg")},
f0 AS (SELECT query_id, cur AS nid FROM w3),
$beamLoopCtes"""

  /** v122's CTEs: the shared layer-0 graph, TWO geometric coarse
    * layers (L1 = hash % 5, L2 = hash % 25 — nesting by construction:
    * % 25 = 0 ⇒ % 5 = 0), entry at the TOP layer's min id, the SHARED
    * width-1 descent through L2 (`u`-walk over te/tg) whose winner
    * seeds the L1 descent (`w`-walk over se/sg), whose winner seeds
    * the SHARED layer-0 beam loop. */
  private def hnswMultiCtes: String = s"""
$beamGraphCtes,
${coarseLayerCtes("s", 5)},
${coarseLayerCtes("t", 25)},
u0 AS (SELECT query_id, (SELECT min(gid) FROM tg) AS cur FROM q),
${coarseWalkSteps("u", "te", "tg")},
w0 AS (SELECT query_id, cur FROM u3),
${coarseWalkSteps("w", "se", "sg")},
f0 AS (SELECT query_id, cur AS nid FROM w3),
$beamLoopCtes"""

  /** v88's full walk statement — shared verbatim by v88 (persisted
    * full-build stores) and v103 (merged upserted stores): the
    * transparency gate for the hierarchy's incremental maintenance. */
  private def hnswEntrySql: String = s"""
WITH $hnswEntryCtes
SELECT query_id, CAST(rn AS BIGINT) AS rnk, nid AS node_id,
       sqrt(d2) / $vscale.0 AS dist
FROM fr3 WHERE rn <= 4"""

  /** LSH sign-bucket expression over a quantized list column: the SAME
    * seed-fixed quantized hyperplanes the Spark side uses
    * (LshIndex.hyperplanes(64, 6, 42) → quantizePlanes — 6 planes,
    * matching v10LshSearch's nPlanes), folded in as list literals.
    * Exact integer dot products → identical sign bits. */
  private def lshBucket(v: String): String = {
    val planes = graft.operators.LshIndex.quantizePlanes(
      graft.operators.LshIndex.hyperplanes(dim = 64, nPlanes = 6,
        seed = 42L))
    planes.map { p =>
      val planeLit = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(64), i -> $v[i+1] * ($planeLit)[i+1])) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
  }

  /** Exact integer squared L2 of subspace `j` (width `sub`) of two
    * quantized list columns. */
  private def subL2(a: String, b: String, j: String, sub: Int): String = {
    val d = s"($a[$sub*$j+i+1] - $b[$sub*$j+i+1])"
    s"CAST(list_sum(list_transform(range($sub), i -> $d * $d)) AS BIGINT)"
  }

  /** The v11 seeded-PQ ADC chain (gallery → seeded codebooks → encode →
    * per-query ADC sums → ranked `r`), shared by v11, v16, and v31 so
    * the index arithmetic can never diverge between them. `gCte`
    * parameterizes the gallery definition (v31 rotates it; the default
    * is the plain quantized scan). */
  private def pqAdcCtes(gCte: String =
      s"g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings)")
      : String = s"""
$gCte,
cb AS (SELECT gid AS cid, v AS cv FROM g WHERE gid < 16),
jj AS (SELECT unnest(range(8)) AS j),
enc AS (SELECT gid, j, cid AS code FROM (
          SELECT g.gid, jj.j, cb.cid,
                 row_number() OVER (PARTITION BY g.gid, jj.j
                   ORDER BY ${subL2("g.v", "cb.cv", "jj.j", 8)}, cb.cid) AS rn
          FROM g CROSS JOIN jj CROSS JOIN cb) WHERE rn = 1),
q AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
adc AS (SELECT q.query_id, e.gid,
               CAST(sum(${subL2("q.qvec", "cb.cv", "e.j", 8)}) AS BIGINT) AS adc
        FROM enc e JOIN cb ON cb.cid = e.code CROSS JOIN q
        GROUP BY 1, 2),
r AS (SELECT query_id, gid, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, gid) AS rnk
      FROM adc)"""

  /** The Gram-diagonal GREEDY OPQ allocation as CTEs (v125/v129): the
    * exact per-dim variance numerators (v33's second-moment pass over
    * the gallery `g0`), ranked descending, then a 64-step RECURSIVE
    * greedy fold — at each step the next dim goes to the least-loaded
    * eligible subspace (capacity 8; ties → lowest index), the sums and
    * counts carried as list state, the argmin computed by
    * lexicographically sorting [load, j] pairs over the eligible set
    * (HUGEINT loads — no float compares). `vr` is MATERIALIZED: the
    * recursion references it 64 times and per-reference inlining would
    * recompute the corpus aggregate each step. Ends with
    * slotx(dim, sub, slot) and vr(dim, vn, rk). Queries using this
    * template must open with WITH RECURSIVE. */
  private def opqAllocCtes: String = s"""g0 AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v0 FROM embeddings),
dx AS (SELECT CAST(j AS BIGINT) AS dim, v0[CAST(j AS INT) + 1] AS qx
      FROM g0, (SELECT unnest(range(64)) AS j)),
da AS (SELECT dim, count(*) AS n,
             sum(CAST(qx AS HUGEINT)) AS sx,
             sum(CAST(qx AS HUGEINT) * CAST(qx AS HUGEINT)) AS sx2
      FROM dx GROUP BY 1),
vr AS MATERIALIZED (SELECT dim, (n * sx2 - sx * sx) AS vn,
              row_number() OVER (ORDER BY (n * sx2 - sx * sx) DESC, dim) AS rk
       FROM da),
alloc(t, dims, subs, sums, cnts) AS (
  SELECT 0, CAST([] AS BIGINT[]), CAST([] AS BIGINT[]),
         CAST([0,0,0,0,0,0,0,0] AS HUGEINT[]),
         CAST([0,0,0,0,0,0,0,0] AS BIGINT[])
  UNION ALL
  SELECT t + 1,
         list_append(dims, vdim),
         list_append(subs, CAST(chs AS BIGINT)),
         list_transform(range(8), j -> CASE WHEN j = chs
           THEN sums[CAST(j AS INT) + 1] + vvn
           ELSE sums[CAST(j AS INT) + 1] END),
         list_transform(range(8), j -> CASE WHEN j = chs
           THEN cnts[CAST(j AS INT) + 1] + 1
           ELSE cnts[CAST(j AS INT) + 1] END)
  FROM (SELECT a.t, a.dims, a.subs, a.sums, a.cnts,
               vr.dim AS vdim, vr.vn AS vvn,
               list_sort(list_transform(
                 list_filter(range(8),
                   j -> a.cnts[CAST(j AS INT) + 1] < 8),
                 j -> [a.sums[CAST(j AS INT) + 1], CAST(j AS HUGEINT)]))[1][2]
                 AS chs
        FROM alloc a JOIN vr ON vr.rk = a.t + 1
        WHERE a.t < 64)
),
res AS (SELECT dims, subs FROM alloc WHERE t = 64),
outx AS (SELECT CAST(o.ord AS INT) AS ord,
                dims[CAST(o.ord AS INT)] AS dim,
                subs[CAST(o.ord AS INT)] AS sub
         FROM res, (SELECT unnest(range(1, 65)) AS ord) o),
slotx AS MATERIALIZED (SELECT dim, sub,
                 row_number() OVER (PARTITION BY sub ORDER BY ord) - 1 AS slot
          FROM outx)"""

  /** CTE chain producing m6's pair-manifest inputs (`qd` quality-scored
    * captions, `v` vector norms) — shared by m6 and m7 so the manifest
    * and its split can never drift. */
  private val pairManifestCtes: String = s"""caps AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     CAST(strlen(text) AS BIGINT) AS n_bytes,
                     string_split(text, ' ') AS toks FROM documents),
qd AS (SELECT doc_id, n_bytes, CAST(len(toks) AS BIGINT) AS n_tok,
              (len(list_filter(toks, t -> t IN $stopList)) / len(toks)) * 0.4
                + least(len(toks) / 100.0, 1.0) * 0.6 AS quality
       FROM caps),
ev AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, ${qv("embedding")} AS qvec
       FROM embeddings),
v AS (SELECT vec_id, ${idot("qvec", "qvec")} AS normsq FROM ev)"""

  /** Cents-exact money sum: CAST(round(expr*scale)) summed as BIGINT. */
  private def moneySum(e: String, scale: Int): String =
    s"CAST(sum(CAST(round(($e) * $scale) AS BIGINT)) AS BIGINT)"

  private val discPrice = "l_extendedprice * (1 - l_discount)"

  private val base: Map[String, String] = Map(

    "v1_knn_l2" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
d AS (SELECT query_id, gid, ${l2sq("qvec", "gvec")} AS d2 FROM g CROSS JOIN q),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM d)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 5""",

    "v15_filtered_knn" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec
      FROM embeddings WHERE label % 3 = 0),
d AS (SELECT query_id, gid, ${l2sq("qvec", "gvec")} AS d2 FROM g CROSS JOIN q),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM d)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 5""",

    "v2_knn_cosine" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
d AS (SELECT query_id, gid,
             ${idot("gvec", "qvec")} / sqrt(CAST(${idot("gvec", "gvec")} AS DOUBLE) * ${idot("qvec", "qvec")}) AS cos_sim
      FROM g CROSS JOIN q),
r AS (SELECT query_id, gid, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, gid) AS rnk
      FROM d)
SELECT query_id, rnk, gid AS neighbor_id, cos_sim FROM r WHERE rnk <= 5""",

    "v3_vector_norms" -> s"""
WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, ${qv("embedding")} AS v FROM embeddings)
SELECT vec_id, CAST(len(v) AS BIGINT) AS dim,
       sqrt(${idot("v", "v")}) / $vscale.0 AS norm
FROM e""",

    "v4_category_counts" -> """
SELECT CAST(label AS BIGINT) AS label_id, count(*) AS n
FROM embeddings GROUP BY 1""",

    "v5_per_class_sample" -> """
WITH h AS (SELECT CAST(label AS BIGINT) AS label_id, CAST(vec_id AS BIGINT) AS vec_id,
                  ((CAST(vec_id AS BIGINT) % 2147483647) * 2654435761) % 2147483647 AS hk
           FROM embeddings),
r AS (SELECT label_id, vec_id,
             row_number() OVER (PARTITION BY label_id ORDER BY hk, vec_id) AS rnk
      FROM h)
SELECT label_id, vec_id, rnk FROM r WHERE rnk <= 10""",

    "v6_ivf_assign" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
d AS (SELECT gid, cid, ${l2sq("gvec", "cvec")} AS d2 FROM g CROSS JOIN c),
a AS (SELECT gid, cid, d2,
             row_number() OVER (PARTITION BY gid ORDER BY d2, cid) AS rn
      FROM d)
SELECT cid AS centroid_id, count(*) AS n, CAST(sum(d2) AS BIGINT) AS sum_d2
FROM a WHERE rn = 1 GROUP BY 1""",

    "v7_ivf_search" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
asn AS (SELECT gid, cid, rn FROM (
          SELECT gid, cid, row_number() OVER (PARTITION BY gid ORDER BY ${l2sq("gvec", "cvec")}, cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
      FROM embeddings WHERE vec_id % 100 = 0),
probe AS (SELECT query_id, cid FROM (
            SELECT query_id, cid, row_number() OVER (PARTITION BY query_id ORDER BY ${l2sq("qvec", "cvec")}, cid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 2),
cand AS (SELECT p.query_id, a.gid, ${l2sq("gvec", "qvec")} AS d2
         FROM probe p JOIN asn a ON p.cid = a.cid
         JOIN g ON g.gid = a.gid JOIN q ON q.query_id = p.query_id),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM cand)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 3""",

    // IVF recall@3: v7's probe chain vs the exact top-3 ranking.
    "v39_ivf_recall" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
asn AS (SELECT gid, cid, rn FROM (
          SELECT gid, cid, row_number() OVER (PARTITION BY gid ORDER BY ${l2sq("gvec", "cvec")}, cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
      FROM embeddings WHERE vec_id % 100 = 0),
probe AS (SELECT query_id, cid FROM (
            SELECT query_id, cid, row_number() OVER (PARTITION BY query_id ORDER BY ${l2sq("qvec", "cvec")}, cid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 2),
cand AS (SELECT p.query_id, a.gid, ${l2sq("gvec", "qvec")} AS d2
         FROM probe p JOIN asn a ON p.cid = a.cid
         JOIN g ON g.gid = a.gid JOIN q ON q.query_id = p.query_id),
r AS (SELECT query_id, gid,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM cand),
ha AS (SELECT query_id, gid FROM r WHERE rnk <= 3),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.gvec", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 3)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_3
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",

    "v8_knn_join_meta" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
d AS (SELECT query_id, gid, ${l2sq("qvec", "gvec")} AS d2 FROM g CROSS JOIN q),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM d),
hits AS (SELECT query_id, rnk, gid AS neighbor_id FROM r WHERE rnk <= 5)
SELECT h.query_id, h.rnk, h.neighbor_id,
       CAST(em.label AS BIGINT) AS label_id,
       CAST(CASE WHEN em.label = eq.label THEN 1 ELSE 0 END AS BIGINT) AS same_label
FROM hits h
JOIN embeddings em ON em.vec_id = h.neighbor_id
JOIN embeddings eq ON eq.vec_id = h.query_id""",

    // LSH bucket-occupancy histogram over v10's bucket chain.
    "v45_lsh_bucket_stats" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, ${lshBucket("v")} AS bucket FROM g),
occ AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1)
SELECT n AS bucket_size, count(*) AS n_buckets,
       CAST(n * count(*) AS BIGINT) AS n_vectors
FROM occ GROUP BY 1""",

    // nprobe/recall curve: v39's chain at nprobe 1/2/4, shared exact
    // ranking and assignment CTEs, one aggregate row per point.
    "v46_probe_curve" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
asn AS (SELECT gid, cid, rn FROM (
          SELECT gid, cid, row_number() OVER (PARTITION BY gid ORDER BY ${l2sq("gvec", "cvec")}, cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
      FROM embeddings WHERE vec_id % 100 = 0),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.gvec", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 3),
${Seq(1, 2, 4).map(np => s"""probe$np AS (SELECT query_id, cid FROM (
            SELECT query_id, cid, row_number() OVER (PARTITION BY query_id ORDER BY ${l2sq("qvec", "cvec")}, cid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= $np),
cand$np AS (SELECT p.query_id, a.gid, ${l2sq("gvec", "qvec")} AS d2
         FROM probe$np p JOIN asn a ON p.cid = a.cid
         JOIN g ON g.gid = a.gid JOIN q ON q.query_id = p.query_id),
ha$np AS (SELECT query_id, gid FROM (
        SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM cand$np) WHERE rnk <= 3)""").mkString(",\n")}
${Seq(1, 2, 4).map(np => s"""SELECT CAST($np AS BIGINT) AS nprobe,
       CAST(sum(CASE WHEN ha$np.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       count(*) AS n_total,
       CAST(sum(CASE WHEN ha$np.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall
FROM hx LEFT JOIN ha$np ON ha$np.query_id = hx.query_id AND ha$np.gid = hx.gid""")
  .mkString("\nUNION ALL\n")}""",

    "v10_lsh_search" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
qb AS (SELECT gid AS query_id, v AS qvec, bucket FROM b WHERE gid % 100 = 0),
cand AS (SELECT qb.query_id, b.gid, ${l2sq("b.v", "qb.qvec")} AS d2
         FROM b JOIN qb ON b.bucket = qb.bucket),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM cand)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 5""",

    // Multi-probe LSH: the query probes its bucket + every Hamming-1
    // flip; gallery side identical to v10's chain.
    "v40_multiprobe_lsh" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
q0 AS (SELECT gid AS query_id, v AS qvec, bucket AS b0 FROM b WHERE gid % 100 = 0),
qp AS (SELECT query_id, qvec,
              unnest(list_prepend(b0, list_transform(range(6), i ->
                substr(b0, 1, CAST(i AS INT))
                  || (CASE WHEN substr(b0, CAST(i AS INT) + 1, 1) = '1'
                           THEN '0' ELSE '1' END)
                  || substr(b0, CAST(i AS INT) + 2)))) AS bucket
       FROM q0),
cand AS (SELECT qp.query_id, b.gid, ${l2sq("b.v", "qp.qvec")} AS d2
         FROM b JOIN qp ON b.bucket = qp.bucket),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM cand)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 5""",

    "v11_pq_adc" -> s"""
WITH ${pqAdcCtes()}
SELECT query_id, rnk, gid AS neighbor_id, sqrt(adc) / $vscale.0 AS dist
FROM r WHERE rnk <= 5""",

    // OPQ-style pre-rotation: the SAME ADC chain over a signed-
    // permuted gallery; perm/signs interpolated from the shared
    // seeded generator (VectorFunctions.signedPerm(64, 42)).
    "v31_opq_prerotate" -> {
      val (perm, signs) = graft.functions.VectorFunctions
        .signedPerm(64, seed = 42L)
      val permLit = perm.map(_ + 1).mkString("[", ",", "]")
      val signLit = signs.mkString("[", ",", "]")
      val rotG = s"""g0 AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v0 FROM embeddings),
g AS (SELECT gid, list_transform(range(64),
         i -> ($signLit)[i+1] * v0[($permLit)[i+1]]) AS v FROM g0)"""
      s"""
WITH ${pqAdcCtes(rotG)}
SELECT query_id, rnk, gid AS neighbor_id, sqrt(adc) / $vscale.0 AS dist
FROM r WHERE rnk <= 5"""
    },

    // Triplet mining: hard positive / hard negative per anchor — the
    // window twin of the Spark side's conditional min(struct) pair.
    // LEFT joins keep anchors with no candidate on either side.
    "v32_triplet_mine" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, CAST(label AS BIGINT) AS glabel,
                  ${qv("embedding")} AS gvec FROM embeddings),
q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(label AS BIGINT) AS qlabel,
             ${qv("embedding")} AS qvec FROM embeddings WHERE vec_id % 100 = 0),
d AS (SELECT query_id, qlabel, gid, glabel, ${l2sq("gvec", "qvec")} AS d2
      FROM g CROSS JOIN q),
p AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rn
      FROM d WHERE glabel = qlabel AND gid <> query_id),
n AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rn
      FROM d WHERE glabel <> qlabel)
SELECT q.query_id, p.gid AS pos_id, sqrt(p.d2) / $vscale.0 AS pos_dist,
       n.gid AS neg_id, sqrt(n.d2) / $vscale.0 AS neg_dist,
       n.d2 - p.d2 AS margin_d2
FROM q LEFT JOIN p ON p.query_id = q.query_id AND p.rn = 1
       LEFT JOIN n ON n.query_id = q.query_id AND n.rn = 1""",

    // Per-dimension stats: HUGEINT sums (the Decimal(38,0) twin),
    // variance via the exact v19 identity, one division per dim.
    "v33_dim_stats" -> s"""
WITH e AS (SELECT ${qv("embedding")} AS v FROM embeddings),
x AS (SELECT CAST(j AS BIGINT) AS dim, v[CAST(j AS INT) + 1] AS qx
      FROM e, (SELECT unnest(range(64)) AS j)),
a AS (SELECT dim, count(*) AS n, min(qx) AS min_q, max(qx) AS max_q,
             sum(CAST(qx AS HUGEINT)) AS sx,
             sum(CAST(qx AS HUGEINT) * CAST(qx AS HUGEINT)) AS sx2
      FROM x GROUP BY 1)
SELECT dim, n, min_q, max_q,
       CAST(sx AS DOUBLE) / n AS mean_q,
       CASE WHEN n >= 2
            THEN CAST(n * sx2 - sx * sx AS DOUBLE)
                   / CAST(n * (n - 1) AS DOUBLE)
            ELSE 0.0 END AS var_q
FROM a""",

    // Gram matrix: upper-triangle second moments in HUGEINT, one
    // division per (i, j) cell.
    "v34_gram_matrix" -> s"""
WITH e AS (SELECT ${qv("embedding")} AS v FROM embeddings),
x AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
             CAST(v[CAST(i AS INT) + 1] * v[CAST(j AS INT) + 1] AS HUGEINT)
               AS xy
      FROM e, (SELECT unnest(range(64)) AS i),
              (SELECT unnest(range(64)) AS j)
      WHERE j >= i)
SELECT i, j, count(*) AS n, CAST(sum(xy) AS DOUBLE) / count(*) AS mean_xy
FROM x GROUP BY 1, 2""",

    // Label outliers: v14's exact A = Σ(n·x − S)² per member in
    // HUGEINT; the flag is the exact cross-multiplied A·n > 4·ΣA.
    "v35_label_outliers" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                  CAST(label AS BIGINT) AS lab, ${qv("embedding")} AS v
           FROM embeddings),
cnt AS (SELECT lab, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
csum AS (SELECT lab, i, CAST(sum(v[CAST(i AS INT) + 1]) AS BIGINT) AS s
         FROM g CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
av AS (SELECT g.vec_id, g.lab, cnt.n,
              sum((cnt.n * g.v[CAST(c.i AS INT) + 1] - c.s)
                    * (cnt.n * g.v[CAST(c.i AS INT) + 1] - c.s)) AS a
       FROM g JOIN csum c ON c.lab = g.lab JOIN cnt ON cnt.lab = g.lab
       GROUP BY 1, 2, 3),
ca AS (SELECT lab, sum(a) AS sum_a FROM av GROUP BY 1)
SELECT av.vec_id, av.lab AS label_id,
       sqrt(av.a) / CAST(av.n * $vscale AS DOUBLE) AS dist,
       CAST(CASE WHEN av.a * av.n > 4 * ca.sum_a THEN 1 ELSE 0 END
         AS BIGINT) AS is_outlier
FROM av JOIN ca ON ca.lab = av.lab""",

    // Two-stage retrieval: v11's ADC chain proposes rnk <= 20, then the
    // TRUE fixed-point L2 re-ranks the shortlist to top-5.
    "v16_rerank" -> s"""
WITH ${pqAdcCtes()},
short AS (SELECT query_id, gid FROM r WHERE rnk <= 20),
ex AS (SELECT s.query_id, s.gid, ${l2sq("g.v", "q.qvec")} AS d2
       FROM short s JOIN g ON g.gid = s.gid
       JOIN q ON q.query_id = s.query_id),
rr AS (SELECT query_id, gid, d2,
              row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
       FROM ex)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM rr WHERE rnk <= 5""",

    // SQ8: per-dim (min,max) over the gallery, 8-bit codes by exact
    // floor division (operands non-negative, so // matches Spark's
    // truncating div), exact integer code-space L2.
    "v17_sq8_knn" -> sqKnnSql(255),

    "v13_ivfpq_search" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
c AS (SELECT gid AS ccid, v AS cv FROM g WHERE gid < 10),
asn AS (SELECT gid, ccid AS acid FROM (
          SELECT g.gid, c.ccid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "c.cv")}, c.ccid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
cb AS (SELECT gid AS cid, v AS cbv FROM g WHERE gid < 16),
jj AS (SELECT unnest(range(8)) AS j),
enc AS (SELECT gid, j, cid AS code FROM (
          SELECT g.gid, jj.j, cb.cid,
                 row_number() OVER (PARTITION BY g.gid, jj.j
                   ORDER BY ${subL2("g.v", "cb.cbv", "jj.j", 8)}, cb.cid) AS rn
          FROM g CROSS JOIN jj CROSS JOIN cb) WHERE rn = 1),
q AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
probe AS (SELECT query_id, ccid AS pcid FROM (
            SELECT q.query_id, c.ccid,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${l2sq("q.qvec", "c.cv")}, c.ccid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 2),
adc AS (SELECT q.query_id, e.gid,
               CAST(sum(${subL2("q.qvec", "cb.cbv", "e.j", 8)}) AS BIGINT) AS adc
        FROM probe p
        JOIN asn a ON a.acid = p.pcid
        JOIN enc e ON e.gid = a.gid
        JOIN cb ON cb.cid = e.code
        JOIN q ON q.query_id = p.query_id
        GROUP BY 1, 2),
r AS (SELECT query_id, gid, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, gid) AS rnk
      FROM adc)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(adc) / $vscale.0 AS dist
FROM r WHERE rnk <= 5""",

    // Residual IVFPQ (by_residual=true, the IndexIVFPQ default): same
    // seeded construction as v13 but codes quantize v − centroid(v) —
    // cb holds the RESIDUALS of the first 16 vectors, encode argmins
    // run in residual space, and ADC compares the query's residual
    // AGAINST ITS PROBED CENTROID to the codeword (per-(query,centroid)
    // tables, mirrored by joining qr on the candidate's centroid).
    "v21_ivfpq_residual" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
c AS (SELECT gid AS ccid, v AS cv FROM g WHERE gid < 10),
asn AS (SELECT gid, ccid AS acid FROM (
          SELECT g.gid, c.ccid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "c.cv")}, c.ccid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
r AS (SELECT g.gid, asn.acid,
             list_transform(range(64), i -> g.v[i+1] - c.cv[i+1]) AS rv
      FROM g JOIN asn USING (gid) JOIN c ON c.ccid = asn.acid),
cb AS (SELECT gid AS cid, rv AS cbv FROM r WHERE gid < 16),
jj AS (SELECT unnest(range(8)) AS j),
enc AS (SELECT gid, acid, j, cid AS code FROM (
          SELECT r.gid, r.acid, jj.j, cb.cid,
                 row_number() OVER (PARTITION BY r.gid, jj.j
                   ORDER BY ${subL2("r.rv", "cb.cbv", "jj.j", 8)}, cb.cid) AS rn
          FROM r CROSS JOIN jj CROSS JOIN cb) WHERE rn = 1),
q AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
probe AS (SELECT query_id, ccid AS pcid FROM (
            SELECT q.query_id, c.ccid,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${l2sq("q.qvec", "c.cv")}, c.ccid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 2),
qr AS (SELECT p.query_id, p.pcid,
              list_transform(range(64), i -> q.qvec[i+1] - c.cv[i+1]) AS qres
       FROM probe p JOIN q USING (query_id) JOIN c ON c.ccid = p.pcid),
adc AS (SELECT qr.query_id, e.gid,
               CAST(sum(${subL2("qr.qres", "cb.cbv", "e.j", 8)}) AS BIGINT) AS adc
        FROM qr
        JOIN enc e ON e.acid = qr.pcid
        JOIN cb ON cb.cid = e.code
        GROUP BY 1, 2),
rk AS (SELECT query_id, gid, adc,
              row_number() OVER (PARTITION BY query_id ORDER BY adc, gid) AS rnk
       FROM adc)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(adc) / $vscale.0 AS dist
FROM rk WHERE rnk <= 5""",

    // Radius search (faiss range_search twin): exact integer threshold
    // d2 <= (1.2*10000)^2, no ranking — the result SET is the output.
    "v24_range_search" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
d AS (SELECT query_id, gid, ${l2sq("qvec", "gvec")} AS d2 FROM g CROSS JOIN q)
SELECT query_id, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM d WHERE d2 <= 144000000""",

    // KNN-vote classifier (the app's label semantics): modal label of
    // the 5 nearest neighbors, ties to lowest label id.
    "v25_knn_classify" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, CAST(label AS BIGINT) AS lab,
             ${qv("embedding")} AS gvec FROM embeddings),
d AS (SELECT query_id, gid, lab, ${l2sq("qvec", "gvec")} AS d2 FROM g CROSS JOIN q),
h AS (SELECT query_id, gid, lab,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM d),
v AS (SELECT query_id, lab, count(*) AS n_votes
      FROM h WHERE rnk <= 5 GROUP BY 1, 2),
r AS (SELECT query_id, lab, n_votes,
             row_number() OVER (PARTITION BY query_id
               ORDER BY n_votes DESC, lab) AS rk
      FROM v)
SELECT query_id, lab AS pred_label, n_votes FROM r WHERE rk = 1""",

    // MIPS (IndexFlatIP twin): rank on the exact integer dot product,
    // DESC, ties to lowest gid; one IEEE division back to scale.
    "v23_mips" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
d AS (SELECT query_id, gid, ${idot("qvec", "gvec")} AS dp FROM g CROSS JOIN q),
r AS (SELECT query_id, gid, dp,
             row_number() OVER (PARTITION BY query_id ORDER BY dp DESC, gid) AS rnk
      FROM d)
SELECT query_id, rnk, gid AS neighbor_id, dp / $vscale2.0 AS dot
FROM r WHERE rnk <= 5""",

    // Binary-code ANN over the d3 SimHash fingerprints: exact Hamming
    // top-5, ties to lowest doc id (the IndexBinaryFlat twin).
    "v22_hamming_knn" -> s"""
WITH $simhashFpCtes,
qq AS (SELECT doc_id AS query_id, simhash AS qs FROM f WHERE doc_id % 100 = 0),
p AS (SELECT qq.query_id, f.doc_id AS gid,
             CAST(list_sum(list_transform(range(64), i ->
               CASE WHEN substr(f.simhash, CAST(i AS INT) + 1, 1)
                         = substr(qq.qs, CAST(i AS INT) + 1, 1)
                    THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
      FROM f CROSS JOIN qq),
r AS (SELECT query_id, gid, hamming,
             row_number() OVER (PARTITION BY query_id ORDER BY hamming, gid) AS rnk
      FROM p)
SELECT query_id, rnk, gid AS neighbor_id, hamming
FROM r WHERE rnk <= 5""",

    "v12_knn_category" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
d AS (SELECT query_id, gid, ${l2sq("qvec", "gvec")} AS d2 FROM g CROSS JOIN q),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM d),
hits AS (SELECT query_id, rnk, gid AS neighbor_id FROM r WHERE rnk <= 5)
SELECT h.query_id, h.rnk, h.neighbor_id,
       'img_' || CAST(h.neighbor_id AS VARCHAR) || '.png' AS path,
       CAST(em.label AS BIGINT) AS label_id,
       'cat_' || CAST(CAST(em.label AS BIGINT) AS VARCHAR) AS category
FROM hits h JOIN embeddings em ON em.vec_id = h.neighbor_id""",

    "v14_class_centroid" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS id, CAST(label AS BIGINT) AS lab,
                  ${qv("embedding")} AS v
           FROM embeddings),
cnt AS (SELECT lab, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
csum AS (SELECT lab, i, CAST(sum(v[CAST(i AS INT) + 1]) AS BIGINT) AS s
         FROM g CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
q AS (SELECT id AS query_id, lab AS true_lab, v AS qvec FROM g
      WHERE id % 100 = 0),
d AS (SELECT q.query_id, q.true_lab, c.lab, cnt.n,
             -- HUGEINT sum kept wide (no BIGINT cast): the squared terms
             -- overflow BIGINT once a class has ~19k members, matching
             -- the Spark side's Decimal(38,0) accumulator
             sum((cnt.n * q.qvec[CAST(c.i AS INT) + 1] - c.s)
                    * (cnt.n * q.qvec[CAST(c.i AS INT) + 1] - c.s)) AS a
      FROM q CROSS JOIN csum c JOIN cnt ON cnt.lab = c.lab
      GROUP BY 1, 2, 3, 4),
r AS (SELECT query_id, true_lab, lab,
             sqrt(a) / CAST(n * $vscale AS DOUBLE) AS dist,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sqrt(a) / CAST(n * $vscale AS DOUBLE), lab) AS rn
      FROM d)
SELECT query_id, true_lab AS label_id, lab AS pred_label, dist,
       CAST(CASE WHEN lab = true_lab THEN 1 ELSE 0 END AS BIGINT) AS correct
FROM r WHERE rn = 1""",

    // One exact Lloyd round: v6's argmin assignment, per-cluster
    // (n, sum) in native HUGEINT, reassignment via the v14 scaled-
    // distance trick (sqrt(A)/(n*10000) — no float centroid ever).
    "v18_lloyd_round" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
c AS (SELECT gid AS cid, v AS cv FROM g WHERE gid < 10),
asn AS (SELECT gid, cid AS c0 FROM (
          SELECT g.gid, c.cid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "c.cv")}, c.cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
cnt AS (SELECT c0, CAST(count(*) AS BIGINT) AS n FROM asn GROUP BY 1),
cm AS (SELECT a.c0, i, sum(g.v[CAST(i AS INT)+1]) AS s
       FROM asn a JOIN g ON g.gid = a.gid
       CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
d AS (SELECT g.gid, a.c0 AS c0, m.c0 AS lab, cnt.n,
             sum((cnt.n * g.v[CAST(m.i AS INT)+1] - m.s)
                   * (cnt.n * g.v[CAST(m.i AS INT)+1] - m.s)) AS a2
      FROM g JOIN asn a ON a.gid = g.gid
      CROSS JOIN cm m JOIN cnt ON cnt.c0 = m.c0
      GROUP BY 1, 2, 3, 4),
r AS (SELECT gid, c0, lab,
             row_number() OVER (PARTITION BY gid
               ORDER BY sqrt(a2) / CAST(n * $vscale AS DOUBLE), lab) AS rn
      FROM d)
SELECT lab AS centroid_id, count(*) AS n_after,
       CAST(sum(CASE WHEN c0 = lab THEN 1 ELSE 0 END) AS BIGINT) AS n_stayed
FROM r WHERE rn = 1 GROUP BY 1""",

    // Full Lloyd training: three chained rounds of the v18 arithmetic
    // (per-round (n, sum) in native HUGEINT, reassignment via the
    // scaled-distance trick — no float centroid at any round), CTEs
    // generated by the same per-round template so the chain cannot
    // drift from the single-round form. Output compares the final
    // round's assignment against the round before it.
    "v26_lloyd_train" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
c AS (SELECT gid AS cid, v AS cv FROM g WHERE gid < 10),
asn0 AS (SELECT gid, cid AS lab FROM (
          SELECT g.gid, c.cid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "c.cv")}, c.cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
${(1 to 3).map(lloydRoundCtes).mkString(",\n")}
SELECT a3.lab AS centroid_id, count(*) AS n_after,
       CAST(sum(CASE WHEN a2.lab = a3.lab THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stayed
FROM asn3 a3 JOIN asn2 a2 USING (gid) GROUP BY 1""",

    // KNN graph, LSH-bucket-blocked: the naive in-bucket self-join +
    // per-source rank; same seed-fixed quantized hyperplanes as v10.
    "v28_knn_graph" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                ${l2sq("x.v", "y.v")} AS d2
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.gid <> y.gid),
r AS (SELECT src_id, dst_id, d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY d2, dst_id) AS rnk
      FROM cand)
SELECT src_id, rnk, dst_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 3""",

    // NN-descent round: v28's chain extended by the 2-hop closure,
    // exact re-score, and a fresh rank — the same candidates the Spark
    // side's edge-list self-join generates.
    "v29_nn_descent" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                ${l2sq("x.v", "y.v")} AS d2
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.gid <> y.gid),
r AS (SELECT src_id, dst_id, d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY d2, dst_id) AS rnk
      FROM cand),
e AS (SELECT src_id, dst_id FROM r WHERE rnk <= 3),
two AS (SELECT e1.src_id AS src_id, e2.dst_id AS dst_id
        FROM e e1 JOIN e e2 ON e1.dst_id = e2.src_id
        WHERE e1.src_id <> e2.dst_id),
c2 AS (SELECT DISTINCT src_id, dst_id
       FROM (SELECT * FROM e UNION ALL SELECT * FROM two)),
rr AS (SELECT c2.src_id, c2.dst_id, ${l2sq("vx.v", "vy.v")} AS d2
       FROM c2 JOIN b vx ON vx.gid = c2.src_id
                JOIN b vy ON vy.gid = c2.dst_id),
r2 AS (SELECT src_id, dst_id, d2,
              row_number() OVER (PARTITION BY src_id
                ORDER BY d2, dst_id) AS rnk
       FROM rr)
SELECT src_id, rnk, dst_id, sqrt(d2) / $vscale.0 AS dist
FROM r2 WHERE rnk <= 3""",

    // Mutual-KNN clustering: v28's ranked edges filtered to mutual
    // pairs, then the d7 recursive reachability over that edge set.
    "v30_mutual_knn_clusters" -> s"""
WITH RECURSIVE g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                ${l2sq("x.v", "y.v")} AS d2
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.gid <> y.gid),
r AS (SELECT src_id, dst_id, d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY d2, dst_id) AS rnk
      FROM cand),
e AS (SELECT src_id, dst_id FROM r WHERE rnk <= 3),
mu AS (SELECT e1.src_id AS a_id, e1.dst_id AS b_id
       FROM e e1 JOIN e e2
         ON e1.src_id = e2.dst_id AND e1.dst_id = e2.src_id
       WHERE e1.src_id < e1.dst_id),
nd AS (SELECT gid AS doc_id FROM g),
${reachCtes("nd", "mu")}
SELECT id AS vec_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS n_members
FROM res""",

    // Incremental IVF upsert: the oracle assigns EVERY vector in one
    // pass and splits base (% 4 <> 0) from genuinely-new batch rows
    // (% 3 = 0 AND % 4 = 0 — the anti-join's survivors); the Spark
    // side's persisted-index + anti-join path must land on the same
    // merged occupancy.
    "v27_ivf_upsert" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
asn AS (SELECT gid, cid FROM (
          SELECT gid, cid,
                 row_number() OVER (PARTITION BY gid
                   ORDER BY ${l2sq("gvec", "cvec")}, cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
b AS (SELECT cid, count(*) AS n_base FROM asn WHERE gid % 4 <> 0 GROUP BY 1),
n AS (SELECT cid, count(*) AS n_new FROM asn
      WHERE gid % 3 = 0 AND gid % 4 = 0 GROUP BY 1)
SELECT COALESCE(b.cid, n.cid) AS centroid_id,
       CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
       CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
       CAST(COALESCE(n_base, 0) + COALESCE(n_new, 0) AS BIGINT) AS n_total
FROM b FULL JOIN n ON b.cid = n.cid""",

    // Compactness oracle uses the SAME centroid identity (not a naive
    // pairwise join — the identity itself is what's being gated; the
    // naive-join equivalence is proven in RandomizedEquivalenceSpec).
    // HUGEINT sums mirror the Spark side's Decimal(38,0).
    "v19_class_compactness" -> s"""
WITH g AS (SELECT CAST(label AS BIGINT) AS label_id, ${qv("embedding")} AS v
           FROM embeddings),
per AS (SELECT label_id, i, sum(v[CAST(i AS INT)+1]) AS sx
        FROM g CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
sn AS (SELECT label_id, sum(sx * sx) AS snorm FROM per GROUP BY 1),
ag AS (SELECT label_id, CAST(count(*) AS BIGINT) AS n,
              sum(${idot("v", "v")}) AS s2
       FROM g GROUP BY 1)
SELECT ag.label_id, ag.n,
       CASE WHEN ag.n >= 2
            THEN (CAST(ag.n * ag.s2 - sn.snorm AS DOUBLE)
                    / CAST((ag.n * (ag.n - 1)) // 2 AS DOUBLE)) / $vscale2.0
            ELSE 0.0 END AS mean_sq_dist
FROM ag JOIN sn USING (label_id)""",

    // Recall@5 of the LSH bucket search vs the exact scan — the v1 and
    // v10 chains under distinct CTE names, left-joined per hit.
    "v20_recall_eval" -> s"""
WITH ge AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
qe AS (SELECT gid AS query_id, v AS qvec FROM ge WHERE gid % 100 = 0),
de AS (SELECT query_id, gid, ${l2sq("v", "qvec")} AS d2 FROM ge CROSS JOIN qe),
re AS (SELECT query_id, gid,
              row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
       FROM de),
hx AS (SELECT query_id, gid FROM re WHERE rnk <= 5),
bl AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM ge),
qb AS (SELECT gid AS query_id, v AS qvec, bucket FROM bl WHERE gid % 100 = 0),
cl AS (SELECT qb.query_id, bl.gid, ${l2sq("bl.v", "qb.qvec")} AS d2
       FROM bl JOIN qb ON bl.bucket = qb.bucket),
rl AS (SELECT query_id, gid,
              row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
       FROM cl),
ha AS (SELECT query_id, gid FROM rl WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",

    "v9_train_val_split" -> """
SELECT CAST(label AS BIGINT) AS label_id,
       CASE WHEN ((CAST(vec_id AS BIGINT) % 2147483647) * 2654435761) % 2147483647 % 5 = 0
            THEN 'val' ELSE 'train' END AS split,
       count(*) AS n
FROM embeddings GROUP BY 1, 2""",

    "d1_dedup_exact" -> """
SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
       count(*) AS n
FROM documents GROUP BY 1""",

    "d2_minhash_pairs" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d")}
SELECT a_id, b_id, inter, uni, inter / uni AS jaccard
FROM v WHERE inter / uni >= 0.5""",

    // Cross-source near-dups: d2's verified pair chain + source labels
    // joined back by id, keeping only pairs that span two sources.
    "d16_cross_source_dup" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d")},
src AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM documents)
SELECT a_id, b_id, sa.source AS a_source, sb.source AS b_source,
       inter / uni AS jaccard
FROM v JOIN src sa ON sa.doc_id = v.a_id
       JOIN src sb ON sb.doc_id = v.b_id
WHERE inter / uni >= 0.5 AND sa.source <> sb.source""",

    // d2's chain with a BINDING bucket cap (2 < the max bucket size of 3
    // at sf0.01): the guard's drop-the-bucket semantics are themselves
    // hash-gated, not just mirrored in the slack case.
    "d13_band_cap" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d", maxBucket = 2L)}
SELECT a_id, b_id, inter, uni, inter / uni AS jaccard
FROM v WHERE inter / uni >= 0.5""",

    // Estimated (signature-agreement) next to exact Jaccard on the d2
    // candidate set — reuses the shared minhash CTE chain.
    "d10_minhash_estimate" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d")},
est AS (SELECT cand.a_id, cand.b_id,
               CAST(len(list_filter(range(12),
                 j -> sa.sig[CAST(j AS INT)+1] = sb.sig[CAST(j AS INT)+1]))
                 AS BIGINT) AS n_agree
        FROM cand JOIN sg sa ON sa.doc_id = cand.a_id
        JOIN sg sb ON sb.doc_id = cand.b_id)
SELECT e.a_id, e.b_id, e.n_agree, e.n_agree / 12.0 AS est_jaccard,
       v.inter / v.uni AS jaccard
FROM est e JOIN v ON v.a_id = e.a_id AND v.b_id = e.b_id""",

    // Levenshtein verify of the d2 candidate set (jaccard >= 0.5 pairs,
    // same minhash chain); division before subtraction on both sides.
    // length() = CHARACTER length (matches Spark's length). DuckDB
    // levenshtein counts byte edits vs Spark's char edits — identical
    // only on ASCII, so both sides ENFORCE the ASCII domain with the
    // same anchored regex (valid under RE2 and Java regex alike).
    "d12_edit_distance" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d")},
p AS (SELECT a_id, b_id FROM v WHERE inter / uni >= 0.5),
t AS (SELECT CAST(doc_id AS BIGINT) AS did, text FROM documents
      WHERE regexp_matches(text, '^[\\x00-\\x7F]*$$')),
ed AS (SELECT p.a_id, p.b_id,
              CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
              CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS mx
       FROM p JOIN t ta ON ta.did = p.a_id JOIN t tb ON tb.did = p.b_id)
SELECT a_id, b_id, edit_dist, 1.0 - edit_dist / mx AS sim FROM ed""",

    "d3_simhash" -> s"""
WITH $simhashFpCtes
SELECT doc_id, simhash FROM f""",

    // Banded + bucket-capped candidate generation mirrored exactly
    // (the cap is part of d6's SEMANTICS, like d2's); Hamming verified
    // on the full 64-bit fingerprint. The operational cap is SLACK at
    // sf0.01 (hottest bucket: 159 < 1024), so this equals the old
    // naive-complete twin — d14 gates the binding-cap path.
    "d6_simhash_dup" -> s"""
WITH $simhashFpCtes,
${simhashBandCtes("f", graft.operators.Dedup.SimhashMaxBucket)},
p AS (SELECT a_id, b_id, ${hammingSql("fa.simhash", "fb.simhash")} AS hamming
      FROM sc JOIN f fa ON fa.doc_id = sc.a_id
      JOIN f fb ON fb.doc_id = sc.b_id)
SELECT a_id, b_id, hamming FROM p WHERE hamming <= 3""",

    // d6's chain with a BINDING bucket cap (100 < the max band bucket
    // of 159 at sf0.01): the guard's drop-the-bucket semantics are
    // themselves hash-gated — the d13 recipe, one operator over.
    "d14_simhash_cap" -> s"""
WITH $simhashFpCtes,
${simhashBandCtes("f", 100L)},
p AS (SELECT a_id, b_id, ${hammingSql("fa.simhash", "fb.simhash")} AS hamming
      FROM sc JOIN f fa ON fa.doc_id = sc.a_id
      JOIN f fb ON fb.doc_id = sc.b_id)
SELECT a_id, b_id, hamming FROM p WHERE hamming <= 3""",

    // Clusters over SPANNING edges: identical fingerprints contract to
    // star edges around the min-doc_id representative (Hamming distance
    // is a function of the fingerprint alone, so contraction preserves
    // components exactly), and the banded+capped pair join runs over
    // the distinct-fingerprint representatives only — the exact mirror
    // of Dedup.simhashDupEdges.
    "d7_dup_clusters" -> s"""
WITH RECURSIVE $simhashFpCtes,
rp0 AS (SELECT simhash, CAST(min(doc_id) AS BIGINT) AS rep
        FROM f GROUP BY simhash),
star AS (SELECT r.rep AS a_id, f.doc_id AS b_id
         FROM f JOIN rp0 r USING (simhash) WHERE f.doc_id <> r.rep),
rf AS (SELECT rep AS doc_id, simhash FROM rp0),
${simhashBandCtes("rf", graft.operators.Dedup.SimhashMaxBucket)},
rpair AS (SELECT sc.a_id, sc.b_id
          FROM sc JOIN rf fa ON fa.doc_id = sc.a_id
          JOIN rf fb ON fb.doc_id = sc.b_id
          WHERE ${hammingSql("fa.simhash", "fb.simhash")} <= 3),
p AS (SELECT a_id, b_id FROM star
      UNION ALL SELECT a_id, b_id FROM rpair),
${reachCtes("f", "p")}
SELECT id AS doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
FROM res""",

    // Dedup-yield report: d7's full chain + two rollups.
    "d18_cluster_sizes" -> s"""
WITH RECURSIVE $simhashFpCtes,
rp0 AS (SELECT simhash, CAST(min(doc_id) AS BIGINT) AS rep
        FROM f GROUP BY simhash),
star AS (SELECT r.rep AS a_id, f.doc_id AS b_id
         FROM f JOIN rp0 r USING (simhash) WHERE f.doc_id <> r.rep),
rf AS (SELECT rep AS doc_id, simhash FROM rp0),
${simhashBandCtes("rf", graft.operators.Dedup.SimhashMaxBucket)},
rpair AS (SELECT sc.a_id, sc.b_id
          FROM sc JOIN rf fa ON fa.doc_id = sc.a_id
          JOIN rf fb ON fb.doc_id = sc.b_id
          WHERE ${hammingSql("fa.simhash", "fb.simhash")} <= 3),
p AS (SELECT a_id, b_id FROM star
      UNION ALL SELECT a_id, b_id FROM rpair),
${reachCtes("f", "p")},
cs AS (SELECT cluster_id, count(*) AS n_members FROM res GROUP BY 1)
SELECT n_members, count(*) AS n_clusters,
       CAST(n_members * count(*) AS BIGINT) AS n_docs
FROM cs GROUP BY 1""",

    // Threshold-tuning curve over d10's guarded chain: exact integer
    // Jaccard deciles, cumulative over the <=11 decile rows.
    "d20_threshold_curve" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d")},
c AS (SELECT (inter * 10) // uni AS bucket, count(*) AS n_pairs
      FROM v WHERE uni > 0 GROUP BY 1)
SELECT bucket, n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_pairs
FROM c""",

    // RAKE: stopword-free phrase islands via the pos - row_number key,
    // word score = degree/frequency.
    "t20_rake_keywords" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tk AS (SELECT doc_id, unnest(list_transform(range(len(toks)),
         i -> {'pos': i, 'term': toks[CAST(i AS INT) + 1]})) AS u
       FROM d),
ns AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM tk
       WHERE u.term NOT IN $stopList),
ph AS (SELECT doc_id, pos, term,
              pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                AS phrase_id
       FROM ns),
pl AS (SELECT doc_id, phrase_id, count(*) AS plen FROM ph GROUP BY 1, 2)
SELECT term, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg,
       CAST(sum(plen) AS BIGINT) / count(*) AS score
FROM ph JOIN pl USING (doc_id, phrase_id) GROUP BY 1""",

    // DAU over trailing-7-day WAU; the window replicates each event
    // onto the 7 window-days it serves (the e13 sliding-distinct form).
    "e22_stickiness" -> """
WITH x AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
             AS day,
                  CAST(user_id AS BIGINT) AS user_id
           FROM events),
dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM x GROUP BY 1),
w AS (SELECT day + off AS day, user_id
      FROM x, (SELECT unnest(range(7)) AS off)),
wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM w GROUP BY 1)
SELECT CAST(dau.day * 86400 AS BIGINT) AS day_epoch, dau.dau, wau.wau,
       dau.dau / wau.wau AS stickiness
FROM dau JOIN wau ON wau.day = dau.day""",

    // Representative selection over d7's component chain: keep the
    // longest doc per cluster (ties to min doc_id) via rank-1 rows.
    "d19_rep_pick" -> s"""
WITH RECURSIVE $simhashFpCtes,
rp0 AS (SELECT simhash, CAST(min(doc_id) AS BIGINT) AS rep
        FROM f GROUP BY simhash),
star AS (SELECT r.rep AS a_id, f.doc_id AS b_id
         FROM f JOIN rp0 r USING (simhash) WHERE f.doc_id <> r.rep),
rf AS (SELECT rep AS doc_id, simhash FROM rp0),
${simhashBandCtes("rf", graft.operators.Dedup.SimhashMaxBucket)},
rpair AS (SELECT sc.a_id, sc.b_id
          FROM sc JOIN rf fa ON fa.doc_id = sc.a_id
          JOIN rf fb ON fb.doc_id = sc.b_id
          WHERE ${hammingSql("fa.simhash", "fb.simhash")} <= 3),
p AS (SELECT a_id, b_id FROM star
      UNION ALL SELECT a_id, b_id FROM rpair),
${reachCtes("f", "p")},
jm AS (SELECT res.id, res.cluster_id, CAST(d0.n_chars AS BIGINT) AS n_chars
       FROM res JOIN documents d0 ON d0.doc_id = res.id),
rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         ORDER BY n_chars DESC, id) AS rk FROM jm)
SELECT cluster_id, count(*) AS n_members,
       CAST(max(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS keep_id,
       CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
         AS keep_n_chars,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM rk GROUP BY 1""",

    // Farthest-point sampling: four chained argmax CTEs (maximin
    // integer distance, ties to min vec_id) — the Spark side's driver
    // loop unrolled into SQL.
    "v41_maximin_seeds" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, ${qv("embedding")} AS v
           FROM embeddings),
s1 AS (SELECT vec_id, v FROM g ORDER BY vec_id LIMIT 1),
c2 AS (SELECT g.vec_id, g.v, ${l2sq("g.v", "s1.v")} AS md FROM g, s1),
s2 AS (SELECT vec_id, v, md FROM c2 ORDER BY md DESC, vec_id LIMIT 1),
c3 AS (SELECT g.vec_id, g.v,
              least(${l2sq("g.v", "s1.v")}, ${l2sq("g.v", "s2.v")}) AS md
       FROM g, s1, s2),
s3 AS (SELECT vec_id, v, md FROM c3 ORDER BY md DESC, vec_id LIMIT 1),
c4 AS (SELECT g.vec_id, g.v,
              least(${l2sq("g.v", "s1.v")}, ${l2sq("g.v", "s2.v")},
                    ${l2sq("g.v", "s3.v")}) AS md
       FROM g, s1, s2, s3),
s4 AS (SELECT vec_id, v, md FROM c4 ORDER BY md DESC, vec_id LIMIT 1)
SELECT CAST(1 AS BIGINT) AS seed_rank, vec_id, CAST(0 AS BIGINT) AS d2
FROM s1
UNION ALL SELECT 2, vec_id, CAST(md AS BIGINT) FROM s2
UNION ALL SELECT 3, vec_id, CAST(md AS BIGINT) FROM s3
UNION ALL SELECT 4, vec_id, CAST(md AS BIGINT) FROM s4""",

    // Rocchio expansion: v1's exact top-5 per query summed (integers)
    // with the query itself, re-ranked by the scale-free form
    // ||6g - e||^2 — identical ordering to distance-to-mean, no
    // division anywhere.
    "v42_query_expansion" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec
      FROM embeddings),
d AS (SELECT query_id, gid, ${l2sq("qvec", "gvec")} AS d2 FROM g CROSS JOIN q),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM d),
nb AS (SELECT r.query_id, g.gvec AS v FROM r JOIN g ON g.gid = r.gid
       WHERE r.rnk <= 5
       UNION ALL SELECT query_id, qvec FROM q),
ex AS (SELECT query_id, j AS dim,
              CAST(sum(v[CAST(j AS INT) + 1]) AS BIGINT) AS exv
       FROM nb, (SELECT unnest(range(64)) AS j) GROUP BY 1, 2),
ev AS (SELECT query_id, list(exv ORDER BY dim) AS evec FROM ex GROUP BY 1),
d2 AS (SELECT e2.query_id, g.gid,
              CAST(list_sum(list_transform(range(64),
                i -> (6 * g.gvec[i + 1] - e2.evec[i + 1])
                   * (6 * g.gvec[i + 1] - e2.evec[i + 1]))) AS BIGINT) AS d2s
       FROM g CROSS JOIN ev e2),
rr AS (SELECT query_id, gid, d2s,
              row_number() OVER (PARTITION BY query_id ORDER BY d2s, gid)
                AS rnk
       FROM d2)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, gid AS neighbor_id, d2s
FROM rr WHERE rnk <= 5""",

    // PQ reconstruction error over the shared v11 seeded chain: each
    // vector scored against its OWN codes' centroids, rolled to one row.
    "v44_pq_error" -> s"""
WITH ${pqAdcCtes()},
er AS (SELECT e.gid,
              CAST(sum(${subL2("g.v", "cb.cv", "e.j", 8)}) AS BIGINT) AS err
       FROM enc e JOIN cb ON cb.cid = e.code JOIN g ON g.gid = e.gid
       GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(err) AS BIGINT) AS sum_err,
       CAST(max(err) AS BIGINT) AS max_err,
       CAST(sum(err) AS BIGINT) / count(*) AS mean_err
FROM er""",

    // Asset-layer exact dedup by payload digest (m1's sha256).
    "m8_asset_dedup" -> """
SELECT sha256(text) AS sha256, count(*) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(min(strlen(text)) AS BIGINT) AS n_bytes
FROM documents GROUP BY 1""",

    // Two matrix-free power-iteration steps: y = Gᵀ(G·1) in BIGINT,
    // x2 = Gᵀ(G·y) in HUGEINT (≡ Spark's Decimal(38,0)), emitted as
    // the deterministic nearest-double.
    "v43_power_iteration" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, ${qv("embedding")} AS v
           FROM embeddings),
sn AS (SELECT vec_id, v, CAST(list_sum(v) AS BIGINT) AS sn FROM g),
yv AS (SELECT j AS dim,
              CAST(sum(v[CAST(j AS INT) + 1] * sn) AS BIGINT) AS y1
       FROM sn, (SELECT unnest(range(64)) AS j) GROUP BY 1),
tn AS (SELECT s2.vec_id,
              sum(CAST(s2.v[CAST(y.dim AS INT) + 1] AS HUGEINT) * y.y1)
                AS tn
       FROM sn s2, yv y GROUP BY 1),
x2 AS (SELECT j AS dim,
              sum(CAST(g.v[CAST(j AS INT) + 1] AS HUGEINT) * t.tn) AS x2
       FROM g JOIN tn t USING (vec_id),
            (SELECT unnest(range(64)) AS j) GROUP BY 1)
SELECT y.dim, y.y1, CAST(x2.x2 AS DOUBLE) AS x2
FROM yv y JOIN x2 USING (dim)""",

    // First-touch attribution: argmin by (us, event_id) per user via a
    // rank-1 row, purchase cents pre-aggregated per user, LEFT JOIN so
    // never-converting first-touch types still report.
    "e21_attribution" -> """
WITH x AS (SELECT user_id, event_id, event_type, "value", epoch_us(ts) AS us
           FROM events),
fr AS (SELECT user_id, event_type AS first_type FROM
        (SELECT user_id, event_type,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY us, event_id) AS rn
         FROM x) WHERE rn = 1),
b AS (SELECT user_id,
             CAST(sum(CAST(round("value" * 10000) AS BIGINT)) AS BIGINT)
               AS cents
      FROM x WHERE event_type = 'purchase' GROUP BY 1)
SELECT first_type, count(*) AS n_users,
       CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_buyers,
       CAST(coalesce(sum(b.cents), 0) AS BIGINT) / 10000.0 AS attr_value,
       CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) / count(*) AS conv_rate
FROM fr LEFT JOIN b USING (user_id) GROUP BY 1""",

    // Chi-squared keyness: term-vs-rest 2x2 contingency per source,
    // chi2 in a FIXED left-associated double expression over exact
    // integer cells (mirrors the Spark expression tree bit-for-bit).
    "t21_chi2_keywords" -> """
WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS term
           FROM documents),
cells AS (SELECT source, term, count(*) AS a FROM t GROUP BY 1, 2),
st AS (SELECT source, CAST(sum(a) AS BIGINT) AS ts FROM cells GROUP BY 1),
tt AS (SELECT term, CAST(sum(a) AS BIGINT) AS ct FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS n FROM cells),
sc AS (SELECT cells.source, cells.term, CAST(cells.a AS BIGINT) AS a,
              CAST(cells.a * (tot.n - st.ts - (tt.ct - cells.a))
                   - (tt.ct - cells.a) * (st.ts - cells.a) AS DOUBLE) AS x,
              tt.ct AS ct, st.ts AS ts, tot.n AS n
       FROM cells JOIN st USING (source) JOIN tt USING (term), tot),
ch AS (SELECT source, term, a,
              (CAST(n AS DOUBLE) * x * x)
                / (CAST(ct AS DOUBLE) * CAST(n - ct AS DOUBLE)
                   * CAST(ts AS DOUBLE) * CAST(n - ts AS DOUBLE)) AS chi2
       FROM sc),
r AS (SELECT source, term, a, chi2,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY chi2 DESC, term) AS BIGINT) AS rnk
      FROM ch)
SELECT source, term, a, chi2, rnk FROM r WHERE rnk <= 5""",

    // TPC-H Q2 shape from lineitem: exact integer micro-scaled unit
    // cost, per-part argmin via the rank-1 row.
    "q32_cheapest_supplier" -> """
WITH ps AS (SELECT l_partkey, l_suppkey,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                     * 10000) AS BIGINT)) AS BIGINT) AS cents,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                     AS BIGINT) AS qty_c
            FROM lineitem GROUP BY 1, 2),
u AS (SELECT l_partkey, l_suppkey,
             (cents * 1000000) // qty_c AS unit_c
      FROM ps),
rk AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
         ORDER BY unit_c, l_suppkey) AS rk FROM u)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey, count(*) AS n_suppliers,
       CAST(max(CASE WHEN rk = 1 THEN l_suppkey END) AS BIGINT)
         AS best_suppkey,
       max(CASE WHEN rk = 1 THEN unit_c END) / 100000000.0
         AS best_unit_price
FROM rk GROUP BY 1""",

    // SQ8 reconstruction error: residual = ((x-mn)*255) mod rng at
    // scale 255, squared and rolled up — v17's encode CTEs, no decode.
    "v47_sq8_error" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
mm AS (SELECT i, CAST(min(v[CAST(i AS INT)+1]) AS BIGINT) AS mn,
               CAST(max(v[CAST(i AS INT)+1]) AS BIGINT) AS mx
       FROM g CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1),
mma AS (SELECT list(mn ORDER BY i) AS mns,
               list(greatest(mx - mn, 1) ORDER BY i) AS rgs FROM mm),
res AS (SELECT gid, CAST(list_sum(list_transform(range(64),
          i -> (((v[i+1] - mns[i+1]) * 255) % rgs[i+1])
             * (((v[i+1] - mns[i+1]) * 255) % rgs[i+1]))) AS BIGINT) AS err
        FROM g CROSS JOIN mma)
SELECT count(*) AS n, CAST(sum(err) AS BIGINT) AS sum_err,
       CAST(max(err) AS BIGINT) AS max_err,
       CAST(sum(err) AS BIGINT) / count(*) AS mean_err
FROM res""",

    // TPC-H Q9 shape (retail-price cost basis): both money terms on the
    // 1e-4 fixed-point scale, one division at the end.
    "q33_product_profit" -> """
SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS year,
       count(*) AS n_lines,
       (CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
              AS BIGINT)) AS BIGINT)
        - CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)
              * CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT))
         / 10000.0 AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY 1, 2""",

    // PMI collocations: score = (N*c_xy)/(c_x*c_y), one IEEE division
    // of exact integers (the t21 fixed-shape rule); top-10 global.
    "t22_pmi_bigrams" -> """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
uni AS (SELECT unnest(toks) AS term FROM d),
uc AS (SELECT term, count(*) AS c FROM uni GROUP BY 1),
nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc),
b AS (SELECT unnest(list_transform(range(len(toks) - 1),
        i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
      FROM d WHERE len(toks) >= 2),
bc AS (SELECT bigram, count(*) AS c_xy FROM b GROUP BY 1
       HAVING count(*) >= 5),
sc AS (SELECT bigram, c_xy, ux.c AS c_x, uy.c AS c_y,
              CAST(nn.n * c_xy AS DOUBLE) / (ux.c * uy.c) AS score
       FROM bc
       JOIN uc ux ON ux.term = string_split(bigram, ' ')[1]
       JOIN uc uy ON uy.term = string_split(bigram, ' ')[2], nn),
r AS (SELECT bigram, c_xy, c_x, c_y, score,
             CAST(row_number() OVER (ORDER BY score DESC, bigram)
               AS BIGINT) AS rnk
      FROM sc)
SELECT rnk, bigram, c_xy, c_x, c_y, score FROM r WHERE rnk <= 10""",

    // RFM quartile grid: exact positional thresholds over value-domain
    // histograms; membership by 1 + sum(v > t_p).
    "e23_rfm" -> """
WITH nw AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS now FROM events),
u AS (SELECT CAST(user_id AS BIGINT) AS user_id,
             CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
             count(*) AS freq,
             CAST(coalesce(sum(CAST(round("value" * 100) AS BIGINT))
               FILTER (event_type = 'purchase'), 0) AS BIGINT) AS mon_c
      FROM events GROUP BY 1),
m AS (SELECT user_id, freq, mon_c,
             (nw.now - last_us) // 86400000000 AS rec_d,
             mon_c // 100 AS mon_dollars
      FROM u, nw),
rh AS (SELECT rec_d AS v, count(*) AS cnt FROM m GROUP BY 1),
rw AS (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
              CAST(sum(cnt) OVER () AS BIGINT) AS nu FROM rh),
rt AS (SELECT max(CASE WHEN cum - cnt < (25*nu+99)//100 AND (25*nu+99)//100 <= cum THEN v END) AS t25,
              max(CASE WHEN cum - cnt < (50*nu+99)//100 AND (50*nu+99)//100 <= cum THEN v END) AS t50,
              max(CASE WHEN cum - cnt < (75*nu+99)//100 AND (75*nu+99)//100 <= cum THEN v END) AS t75
       FROM rw),
fh AS (SELECT freq AS v, count(*) AS cnt FROM m GROUP BY 1),
fw AS (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
              CAST(sum(cnt) OVER () AS BIGINT) AS nu FROM fh),
ft AS (SELECT max(CASE WHEN cum - cnt < (25*nu+99)//100 AND (25*nu+99)//100 <= cum THEN v END) AS t25,
              max(CASE WHEN cum - cnt < (50*nu+99)//100 AND (50*nu+99)//100 <= cum THEN v END) AS t50,
              max(CASE WHEN cum - cnt < (75*nu+99)//100 AND (75*nu+99)//100 <= cum THEN v END) AS t75
       FROM fw),
mh AS (SELECT mon_dollars AS v, count(*) AS cnt FROM m GROUP BY 1),
mw AS (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
              CAST(sum(cnt) OVER () AS BIGINT) AS nu FROM mh),
mt AS (SELECT max(CASE WHEN cum - cnt < (25*nu+99)//100 AND (25*nu+99)//100 <= cum THEN v END) AS t25,
              max(CASE WHEN cum - cnt < (50*nu+99)//100 AND (50*nu+99)//100 <= cum THEN v END) AS t50,
              max(CASE WHEN cum - cnt < (75*nu+99)//100 AND (75*nu+99)//100 <= cum THEN v END) AS t75
       FROM mw),
seg AS (SELECT m.user_id, m.mon_c,
               1 + CAST(m.rec_d > rt.t25 AS BIGINT)
                 + CAST(m.rec_d > rt.t50 AS BIGINT)
                 + CAST(m.rec_d > rt.t75 AS BIGINT) AS r_q,
               1 + CAST(m.freq > ft.t25 AS BIGINT)
                 + CAST(m.freq > ft.t50 AS BIGINT)
                 + CAST(m.freq > ft.t75 AS BIGINT) AS f_q,
               1 + CAST(m.mon_dollars > mt.t25 AS BIGINT)
                 + CAST(m.mon_dollars > mt.t50 AS BIGINT)
                 + CAST(m.mon_dollars > mt.t75 AS BIGINT) AS m_q
        FROM m, rt, ft, mt)
SELECT r_q, f_q, m_q, count(*) AS n_users,
       CAST(sum(mon_c) AS BIGINT) / 100.0 AS total_monetary
FROM seg GROUP BY 1, 2, 3""",

    // Inter-class centroid margins on (sum, n) pairs — HUGEINT
    // numerators, one double division per pair, argmin by rank-1 row.
    "v48_centroid_margin" -> s"""
WITH g AS (SELECT CAST(label AS BIGINT) AS lab, ${qv("embedding")} AS v
           FROM embeddings),
cnt AS (SELECT lab, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
sums AS (SELECT lab, i, CAST(sum(v[CAST(i AS INT)+1]) AS BIGINT) AS sv
         FROM g CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
a AS (SELECT sums.lab, i, sv, n FROM sums JOIN cnt USING (lab)),
p AS (SELECT a.lab, b.lab AS lab_b, a.n, b.n AS n_b,
             sum((CAST(a.sv AS HUGEINT) * b.n - CAST(b.sv AS HUGEINT) * a.n)
               * (CAST(a.sv AS HUGEINT) * b.n - CAST(b.sv AS HUGEINT) * a.n))
               AS num
      FROM a JOIN a b ON b.i = a.i AND b.lab <> a.lab
      GROUP BY 1, 2, 3, 4),
dd AS (SELECT lab, lab_b, n,
              CAST(num AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * n * n_b * n_b AS DOUBLE) AS d2
       FROM p),
r AS (SELECT lab, n, lab_b, d2,
             row_number() OVER (PARTITION BY lab ORDER BY d2, lab_b) AS rk
      FROM dd)
SELECT lab AS label_id, n, lab_b AS nearest_label, d2 AS margin_d2
FROM r WHERE rk = 1""",

    // Ship-latency SLA by priority: exact whole-day floor-division on
    // epoch micros, one IEEE division for the mean.
    "q34_ship_latency" -> """
SELECT o_orderpriority, count(*) AS n_lines,
       CAST(sum((epoch_us(l_shipdate) - epoch_us(o_orderdate))
         // 86400000000) AS BIGINT) AS sum_delay,
       CAST(max((epoch_us(l_shipdate) - epoch_us(o_orderdate))
         // 86400000000) AS BIGINT) AS max_delay,
       CAST(sum((epoch_us(l_shipdate) - epoch_us(o_orderdate))
         // 86400000000) AS BIGINT) / count(*) AS mean_delay
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY 1""",

    // Normalization-aware exact dedup: t11's canonical form, groups >= 2.
    "d21_normalized_dedup" -> """
WITH n AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
           FROM documents)
SELECT md5(norm) AS norm_hash, count(*) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS rep_doc
FROM n GROUP BY 1""",

    // Per-modality exact p50/p90 byte sizes via positional selection
    // over (modality, size) histograms.
    "m9_size_quantiles" -> """
WITH a AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
                  CAST(strlen(text) AS BIGINT) AS n_bytes,
                  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       ELSE 'video' END AS modality
           FROM documents WHERE text IS NOT NULL),
h AS (SELECT modality, n_bytes, count(*) AS cnt FROM a GROUP BY 1, 2),
c AS (SELECT modality, n_bytes, cnt,
             CAST(sum(cnt) OVER (PARTITION BY modality ORDER BY n_bytes)
               AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY modality) AS BIGINT) AS nu,
             CAST(max(n_bytes) OVER (PARTITION BY modality) AS BIGINT)
               AS max_bytes
      FROM h),
p50 AS (SELECT modality, n_bytes AS p50_bytes FROM c
        WHERE cum - cnt < (50*nu+99)//100 AND (50*nu+99)//100 <= cum),
p90 AS (SELECT modality, n_bytes AS p90_bytes FROM c
        WHERE cum - cnt < (90*nu+99)//100 AND (90*nu+99)//100 <= cum),
t AS (SELECT DISTINCT modality, nu, max_bytes FROM c)
SELECT t.modality, t.nu AS n_assets, p50_bytes, p90_bytes, t.max_bytes
FROM t JOIN p50 USING (modality) JOIN p90 USING (modality)""",

    // Binary-quantization recall: sign bits compared directly (no
    // packing) vs v1's exact ranking — the packed Spark codes are
    // thereby gate-checked against the unpacked semantics.
    "v49_binary_recall" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
q AS (SELECT gid AS query_id, v AS qv FROM g WHERE gid % 100 = 0),
p AS (SELECT q.query_id, g.gid,
             CAST(list_sum(list_transform(range(64), i ->
               CASE WHEN (g.v[i+1] >= 0) = (q.qv[i+1] >= 0)
                    THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
      FROM g CROSS JOIN q),
r AS (SELECT query_id, gid,
             row_number() OVER (PARTITION BY query_id
               ORDER BY hamming, gid) AS rnk
      FROM p),
ha AS (SELECT query_id, gid FROM r WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qv")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",

    // Per-source Gini impurity over the term distribution; squares in
    // HUGEINT, one IEEE division.
    "t23_term_gini" -> """
WITH tc AS (SELECT source, unnest(string_split(text, ' ')) AS term
            FROM documents),
c AS (SELECT source, term, count(*) AS c FROM tc GROUP BY 1, 2),
s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_types,
             sum(CAST(c AS HUGEINT) * c) AS sum_sq
      FROM c GROUP BY 1)
SELECT source, n_tokens, n_types, CAST(sum_sq AS BIGINT) AS sum_sq,
       CAST(CAST(n_tokens AS HUGEINT) * n_tokens - sum_sq AS DOUBLE)
         / CAST(CAST(n_tokens AS HUGEINT) * n_tokens AS DOUBLE) AS gini
FROM s""",

    // Self-baseline 3-sigma outliers: exact cross-multiplied HUGEINT
    // comparison, per-type rollup.
    "e24_value_outliers" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
                  CAST(round("value" * 100) AS BIGINT) AS v_c
           FROM events),
u AS (SELECT user_id, count(*) AS n,
             sum(CAST(v_c AS HUGEINT)) AS sv,
             sum(CAST(v_c AS HUGEINT) * v_c) AS sv2
      FROM x GROUP BY 1),
f AS (SELECT x.event_type,
             CASE WHEN (CAST(x.v_c AS HUGEINT) * u.n - u.sv)
                     * (CAST(x.v_c AS HUGEINT) * u.n - u.sv)
                     * (u.n - 1)
                   > 9 * CAST(u.n AS HUGEINT) * (u.n * u.sv2 - u.sv * u.sv)
                  THEN 1 ELSE 0 END AS is_out
      FROM x JOIN u USING (user_id))
SELECT event_type, count(*) AS n_events,
       CAST(sum(is_out) AS BIGINT) AS n_outliers,
       CAST(sum(is_out) AS BIGINT) / count(*) AS outlier_share
FROM f GROUP BY 1""",

    // Recall@k sweep: one ADC ranking + one exact ranking joined once,
    // three filtered counts.
    "v50_recall_curve" -> s"""
WITH ${pqAdcCtes()},
ha AS (SELECT query_id, gid, rnk AS ra FROM r WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid, rnk AS re FROM rex WHERE rnk <= 5),
j AS (SELECT ha.ra, hx.re FROM hx JOIN ha USING (query_id, gid)),
nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM q),
ks AS (SELECT unnest([1, 3, 5]) AS k),
hits AS (SELECT CAST(ks.k AS BIGINT) AS k,
                CAST(coalesce(sum(CASE WHEN j.ra <= ks.k AND j.re <= ks.k
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
         FROM ks LEFT JOIN j ON true GROUP BY 1)
SELECT k, n_hit, k * nq.nq AS n_total,
       n_hit / (k * nq.nq) AS recall
FROM hits, nq""",

    // Pairwise source-vocabulary Jaccard via a term-keyed self-join
    // (per-term fanout bounded by the source count).
    "t24_vocab_overlap" -> """
WITH v AS (SELECT DISTINCT source, term FROM
             (SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents)),
sz AS (SELECT source, count(*) AS nv FROM v GROUP BY 1),
iv AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
       FROM v a JOIN v b ON b.term = a.term AND a.source < b.source
       GROUP BY 1, 2)
SELECT src_a, src_b, sa.nv AS nv_a, sb.nv AS nv_b, n_inter,
       n_inter / (sa.nv + sb.nv - n_inter) AS jaccard
FROM iv JOIN sz sa ON sa.source = iv.src_a
        JOIN sz sb ON sb.source = iv.src_b""",

    // WoW active-user trend: O(weeks) frame, lag over the weeks only.
    "e25_wow_trend" -> """
WITH w AS (SELECT epoch_us(ts) // 604800000000 AS wk,
                  CAST(user_id AS BIGINT) AS user_id
           FROM events),
wau AS (SELECT wk, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM w GROUP BY 1),
t AS (SELECT wk, wau, lag(wau, 1) OVER (ORDER BY wk) AS prev FROM wau)
SELECT CAST(wk * 604800 AS BIGINT) AS week_epoch, wau,
       CAST(coalesce(prev, 0) AS BIGINT) AS prev_wau,
       CASE WHEN prev IS NOT NULL
            THEN CAST(wau - prev AS DOUBLE) / prev ELSE 0.0 END
         AS wow_growth
FROM t""",

    // PQ code-usage balance over the seeded encode chain (only enc's
    // CTEs execute; DuckDB skips the unreferenced search CTEs).
    "v51_pq_code_balance" -> s"""
WITH ${pqAdcCtes()},
cc AS (SELECT j, code, count(*) AS n FROM enc GROUP BY 1, 2),
bal AS (SELECT CAST(j AS BIGINT) AS sub, count(*) AS n_used,
               CAST(sum(n) AS BIGINT) AS n_total,
               CAST(max(n) AS BIGINT) AS max_n,
               CAST(min(n) AS BIGINT) AS min_n,
               CAST(sum(n * n) AS BIGINT) AS sum_sq
        FROM cc GROUP BY 1)
SELECT sub, n_used, max_n, min_n,
       (16 * sum_sq) / (n_total * n_total) AS imbalance
FROM bal""",

    // Largest-remainder token-budget apportionment (Hamilton): exact
    // integer div/mod, rank window over O(sources).
    "p6_token_budget" -> """
WITH per AS (SELECT source,
                    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                      AS n_tokens
             FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per),
w AS (SELECT source, n_tokens,
             (1000000 * n_tokens) // tot AS base,
             (1000000 * n_tokens) % tot AS rem
      FROM per, tot),
lb AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS k FROM w),
r AS (SELECT source, n_tokens, base,
             CAST(row_number() OVER (ORDER BY rem DESC, source)
               AS BIGINT) AS rk
      FROM w)
SELECT source, n_tokens, CAST(base AS BIGINT) AS base,
       CAST(CASE WHEN rk <= lb.k THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base + CASE WHEN rk <= lb.k THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM r, lb""",

    // Good-Turing count-of-counts spectrum; r+1 alignment via a
    // self-join of the tiny spectrum, one IEEE division at the end.
    "t19_good_turing" -> """
WITH tk AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT term, count(*) AS r0 FROM tk GROUP BY 1),
spec AS (SELECT r0 AS r, count(*) AS n_r FROM tf GROUP BY 1),
nx AS (SELECT r - 1 AS r, n_r AS n_r1 FROM spec)
SELECT CAST(spec.r AS BIGINT) AS r, CAST(spec.n_r AS BIGINT) AS n_r,
       CAST(coalesce((spec.r + 1) * nx.n_r1, 0) AS BIGINT) AS gt_num,
       CAST(coalesce((spec.r + 1) * nx.n_r1, 0) AS BIGINT)
         / CAST(spec.n_r AS BIGINT) AS gt_star
FROM spec LEFT JOIN nx ON nx.r = spec.r""",

    // e2's sessions carried to per-session rows (running-sum ids over
    // the same per-user order), rolled into a duration histogram.
    "e20_session_stats" -> """
WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, event_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      FROM x),
f AS (SELECT user_id, us,
             sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM l),
sess AS (SELECT user_id, sess_id, count(*) AS n_ev,
                max(us) - min(us) AS dur_us
         FROM f GROUP BY 1, 2)
SELECT CAST(dur_us // 60000000 AS BIGINT) AS dur_min,
       count(*) AS n_sessions,
       CAST(sum(n_ev) AS BIGINT) AS sum_events,
       CAST(max(n_ev) AS BIGINT) AS max_len,
       CAST(sum(n_ev) AS BIGINT) / count(*) AS avg_len
FROM sess GROUP BY 1""",

    // Cross-source 5-gram overlap vs the 'src0' benchmark set; distinct
    // shingles per doc make the join count the exact intersection size.
    "d8_contamination" -> s"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, source, ${shingleSql("toks", 5)} AS sh FROM d),
ev AS (SELECT CAST(doc_id AS BIGINT) AS eval_id, unnest(sh) AS sg
       FROM s WHERE source = 'src0'),
tr AS (SELECT CAST(doc_id AS BIGINT) AS train_id, unnest(sh) AS sg
       FROM s WHERE source <> 'src0')
SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
FROM tr JOIN ev USING (sg)
GROUP BY 1, 2 HAVING count(*) >= 3""",

    // End-to-end corpus clean: t1's language filter + t2's score formula
    // + d1's content-hash dedup + d2's full minhash/band chain (banding
    // is probabilistic, so the oracle must MIRROR it, not approximate
    // it) + d7's recursive reachability, then one representative (the
    // min doc_id) per near-dup cluster.
    "p1_corpus_clean" -> s"""
WITH RECURSIVE
d0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
              string_split(text, ' ') AS toks FROM documents),
c0 AS (SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
              len(list_filter(toks, t -> t IN $stopList)) AS hits
       FROM d0),
fl AS (SELECT doc_id, text, toks, n_tokens,
              (hits / n_tokens) * 0.4 + least(n_tokens / 100.0, 1.0) * 0.6 AS score
       FROM c0
       WHERE hits / n_tokens >= 0.1
         AND (hits / n_tokens) * 0.4 + least(n_tokens / 100.0, 1.0) * 0.6 >= 0.4),
ek AS (SELECT min(doc_id) AS doc_id FROM fl GROUP BY md5(text)),
k AS (SELECT fl.* FROM fl JOIN ek USING (doc_id)),
${minhashPairCtes("k")},
pr AS (SELECT a_id, b_id FROM v WHERE inter / uni >= 0.5),
${reachCtes("k", "pr")}
SELECT res.id AS doc_id, k.n_tokens, k.score
FROM res JOIN k ON k.doc_id = res.id
WHERE res.id = res.cluster_id""",

    // Funnel: p1's exact stage chain reduced to one attrition row;
    // every fragment (score formula, lang threshold, banding) is the
    // p1 oracle's own text, so the two can never disagree.
    "p3_clean_funnel" -> s"""
WITH RECURSIVE
d0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
              string_split(text, ' ') AS toks FROM documents),
c0 AS (SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
              len(list_filter(toks, t -> t IN $stopList)) AS hits
       FROM d0),
fl AS (SELECT doc_id, text, toks, n_tokens,
              (hits / n_tokens) * 0.4 + least(n_tokens / 100.0, 1.0) * 0.6 AS score
       FROM c0
       WHERE hits / n_tokens >= 0.1
         AND (hits / n_tokens) * 0.4 + least(n_tokens / 100.0, 1.0) * 0.6 >= 0.4),
ek AS (SELECT min(doc_id) AS doc_id FROM fl GROUP BY md5(text)),
k AS (SELECT fl.* FROM fl JOIN ek USING (doc_id)),
${minhashPairCtes("k")},
pr AS (SELECT a_id, b_id FROM v WHERE inter / uni >= 0.5),
${reachCtes("k", "pr")}
SELECT (SELECT count(*) FROM d0) AS n_total,
       (SELECT count(*) FROM c0 WHERE hits / n_tokens >= 0.1) AS n_lang,
       (SELECT count(*) FROM fl) AS n_quality,
       (SELECT count(*) FROM k) AS n_exact,
       (SELECT count(*) FROM res WHERE id = cluster_id) AS n_final""",

    "d4_ngram_jaccard" -> s"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, source, ${shingleSql("toks", 2)} AS sh FROM d),
inv AS (SELECT doc_id, source, unnest(sh) AS sg FROM s),
inter AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, CAST(count(*) AS BIGINT) AS inter
          FROM inv x JOIN inv y ON x.sg = y.sg AND x.source = y.source
           AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM s)
SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id, inter,
       sa.n_sh + sb.n_sh - inter AS uni,
       inter / (sa.n_sh + sb.n_sh - inter) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.3""",

    // LSH-bucket blocking (the scale path): the same 6 quantized
    // seed-42 hyperplanes as v10, folded in as literals — sign bits,
    // and therefore blocks, agree bit-for-bit with the Spark side.
    "d5_embedding_dup" -> s"""
WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id, ${qv("embedding")} AS v
           FROM embeddings),
b AS (SELECT id, v, ${lshBucket("v")} AS blk FROM e)
SELECT x.id AS a_id, y.id AS b_id, x.blk AS block_id,
       ${idot("x.v", "y.v")} / sqrt(CAST(${idot("x.v", "x.v")} AS DOUBLE) * ${idot("y.v", "y.v")}) AS cos_sim
FROM b x JOIN b y ON x.blk = y.blk AND x.id < y.id
WHERE ${idot("x.v", "y.v")} / sqrt(CAST(${idot("x.v", "x.v")} AS DOUBLE) * ${idot("y.v", "y.v")}) >= 0.35""",

    "t1_lang_id" -> s"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             len(list_filter(toks, t -> t IN $stopList)) AS hits
      FROM d)
SELECT doc_id, n_tokens, hits / n_tokens AS stop_ratio,
       CASE WHEN hits / n_tokens >= 0.1 THEN 'en' ELSE 'other' END AS lang_pred
FROM c""",

    "t2_quality_score" -> s"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             len(list_filter(toks, t -> t IN $stopList)) AS hits
      FROM d)
SELECT doc_id, n_tokens,
       (hits / n_tokens) * 0.4 + least(n_tokens / 100.0, 1.0) * 0.6 AS score
FROM c""",

    "t3_token_count" -> """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_tokens
FROM documents""",

    "t4_fingerprint" -> s"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(text) AS full_md5,
                  string_split(text, ' ') AS toks
           FROM documents)
SELECT doc_id, full_md5,
       list_min(list_transform(${shingleSql("toks", 3)}, s -> md5(s))) AS min_shingle_hash
FROM d""",

    "t5_top_terms" -> """
WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
c AS (SELECT source, token, count(*) AS n FROM t GROUP BY 1, 2),
r AS (SELECT source, token, n,
             row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rnk
      FROM c)
SELECT source, token, n, rnk FROM r WHERE rnk <= 5""",

    // Repetition signals: the oracle computes modal counts the naive way
    // (explode + per-doc groupBy); the Spark side is a map-only linear
    // aggregate over the sorted token array — same numbers.
    "t9_repetition" -> """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split(text, ' ') AS toks FROM documents),
u AS (SELECT doc_id, unnest(toks) AS t FROM d),
uc AS (SELECT doc_id, t, count(*) AS c FROM u GROUP BY 1, 2),
topu AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_token_n
         FROM uc GROUP BY 1),
b AS (SELECT doc_id,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(len(toks) - 1),
                         i -> toks[i+1] || ' ' || toks[i+2])
                  ELSE CAST([] AS VARCHAR[]) END AS bgs
      FROM d),
ub AS (SELECT doc_id, unnest(bgs) AS g FROM b),
bc AS (SELECT doc_id, g, count(*) AS c FROM ub GROUP BY 1, 2),
topb AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n
         FROM bc GROUP BY 1)
SELECT d.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       topu.top_token_n,
       coalesce(topb.top_bigram_n, 0) AS top_bigram_n,
       topu.top_token_n / len(toks) AS top_token_frac,
       len(list_distinct(toks)) / len(toks) AS distinct_frac,
       CASE WHEN len(toks) >= 2 THEN topb.top_bigram_n / (len(toks) - 1)
            ELSE 0.0 END AS top_bigram_frac
FROM d LEFT JOIN topu USING (doc_id) LEFT JOIN topb USING (doc_id)""",

    // Trigram novelty: distinct shingles per doc (mirrors shingles()'s
    // array_distinct), df via group, rate = exact counts + one division.
    "t13_novelty" -> """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
             list_distinct(list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               AS bgs
      FROM d WHERE len(toks) >= 3),
u AS (SELECT doc_id, unnest(bgs) AS bg FROM s),
f AS (SELECT bg, count(*) AS df FROM u GROUP BY 1)
SELECT doc_id, count(*) AS n_trigrams,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) / count(*)
         AS novelty
FROM u JOIN f USING (bg) GROUP BY 1""",

    // Hapax/type counts via the token-frequency table; the Spark side's
    // sorted-array run-length pass must land on identical counts.
    "t14_hapax" -> """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split(text, ' ') AS toks FROM documents),
t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2),
a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM c GROUP BY 1)
SELECT d.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       a.n_types, a.n_hapax,
       a.n_types / CAST(len(toks) AS BIGINT) AS ttr,
       a.n_hapax / CAST(len(toks) AS BIGINT) AS hapax_frac
FROM d JOIN a USING (doc_id)""",

    // Mixture weights: per-source token mass over the corpus total,
    // one exact division per source row.
    "p2_mixture_weights" -> """
WITH per AS (SELECT source, count(*) AS n_docs,
                    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                      AS n_tokens
             FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per)
SELECT source, n_docs, n_tokens,
       n_tokens / tot_tokens AS token_share
FROM per CROSS JOIN tot""",

    // Prefix dedup: d1's exact-dedup shape on the md5 of the first 8
    // tokens; groups of >= 2 only.
    "d15_prefix_dup" -> """
WITH p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  md5(array_to_string(string_split(text, ' ')[1:8], ' '))
                    AS prefix_hash
           FROM documents)
SELECT prefix_hash, count(*) AS n, CAST(min(doc_id) AS BIGINT) AS keep_id
FROM p GROUP BY 1 HAVING count(*) >= 2""",

    // Gopher-style quality rules: every threshold is the same
    // cross-multiplied integer comparison as the Spark side (a float
    // ratio could flip a boundary doc across engines); the modal count
    // reuses t9's naive explode+group form.
    "t12_gopher_quality" -> s"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
                  string_split(text, ' ') AS toks FROM documents),
m AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS modal_n FROM (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY 1, 2)
      GROUP BY 1),
s AS (SELECT d.doc_id,
             CAST(len(toks) AS BIGINT) AS n_tok,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
             CAST(len(list_filter(toks, t -> t IN $stopList)) AS BIGINT)
               AS stop_hits,
             m.modal_n
      FROM d JOIN m USING (doc_id)),
f AS (SELECT doc_id, n_tok, word_chars, stop_hits, modal_n,
             CAST(CASE WHEN n_tok >= 20 AND n_tok <= 100000
                  THEN 1 ELSE 0 END AS BIGINT) AS pass_len,
             CAST(CASE WHEN 3 * n_tok <= word_chars
                        AND word_chars <= 10 * n_tok
                  THEN 1 ELSE 0 END AS BIGINT) AS pass_wordlen,
             CAST(CASE WHEN 50 * stop_hits >= n_tok
                  THEN 1 ELSE 0 END AS BIGINT) AS pass_stop,
             CAST(CASE WHEN 5 * modal_n <= n_tok
                  THEN 1 ELSE 0 END AS BIGINT) AS pass_rep
      FROM s)
SELECT doc_id, n_tok, word_chars, stop_hits, modal_n,
       pass_len, pass_wordlen, pass_stop, pass_rep,
       pass_len * pass_wordlen * pass_stop * pass_rep AS keep
FROM f""",

    // Overlap pairs on t6's winnowing fingerprints; the df <= 50 cap is
    // operator semantics (boilerplate fingerprints excluded) mirrored
    // exactly here.
    "d11_overlap_pairs" -> """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split(text, ' ') AS toks FROM documents),
h AS (SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(len(toks) - 2),
                         i -> md5(toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                  ELSE CAST([] AS VARCHAR[]) END AS hs
      FROM d),
w AS (SELECT doc_id,
             CASE WHEN len(hs) >= 4
                  THEN list_distinct(list_transform(range(len(hs) - 3),
                         i -> list_min(hs[i+1:i+4])))
                  ELSE CAST([] AS VARCHAR[]) END AS fps
      FROM h),
f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
df AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM f),
c AS (SELECT doc_id, fp FROM df WHERE df <= 50)
SELECT x.doc_id AS a_id, y.doc_id AS b_id, CAST(count(*) AS BIGINT) AS n_shared
FROM c x JOIN c y ON x.fp = y.fp AND x.doc_id < y.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2""",

    // Normalization chain kept to ASCII classes so RE2 (DuckDB) and
    // Java regex (Spark) agree; 'g' flag matches Spark's default
    // global replace.
    "t11_normalize" -> """
WITH n AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
                  trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
           FROM documents)
SELECT doc_id, md5(norm) AS norm_hash,
       CAST(strlen(norm) AS BIGINT) AS n_chars_norm,
       CAST(CASE WHEN norm = text THEN 1 ELSE 0 END AS BIGINT) AS unchanged
FROM n""",

    "t6_winnowing" -> """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split(text, ' ') AS toks
           FROM documents),
h AS (SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(len(toks) - 2),
                         i -> md5(toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                  ELSE CAST([] AS VARCHAR[]) END AS hs
      FROM d),
w AS (SELECT doc_id,
             CASE WHEN len(hs) >= 4
                  THEN list_distinct(list_transform(range(len(hs) - 3),
                         i -> list_min(hs[i+1:i+4])))
                  ELSE CAST([] AS VARCHAR[]) END AS fps
      FROM h)
SELECT doc_id, unnest(fps) AS fp FROM w""",

    "t7_length_quantiles" -> """
WITH d AS (SELECT source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
rk AS (SELECT source, n_tok,
              row_number() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
              count(*) OVER (PARTITION BY source) AS n
       FROM d)
SELECT source,
       max(CASE WHEN rn = (n + 1) // 2 THEN n_tok END) AS p50,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_tok END) AS p90,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN n_tok END) AS p99
FROM rk GROUP BY 1""",

    // score = (tf*N)/df: exact BIGINT numerator, one IEEE division —
    // bit-identical in both engines (a log-idf would not be).
    "t8_tfidf" -> """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  unnest(string_split(text, ' ')) AS term
           FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM d GROUP BY 1, 2),
wdf AS (SELECT doc_id, term, tf,
               CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
        FROM tf),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
sc AS (SELECT doc_id, term, tf, df, (tf * n_docs) / df AS score
       FROM wdf, n),
rk AS (SELECT doc_id, term, tf, df, score,
              CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, term) AS BIGINT) AS rk
       FROM sc)
SELECT doc_id, term, tf, df, score, rk FROM rk WHERE rk <= 3""",

    // Seen-index anti-join dedup over the content hash; NOT EXISTS (not
    // NOT IN) so a NULL hash can never poison the predicate — matching
    // left_anti's null-never-matches semantics.
    "d9_incremental_dedup" -> """
WITH nw AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(text) AS text_hash
            FROM documents WHERE doc_id % 4 = 0)
SELECT text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n
FROM nw
WHERE NOT EXISTS (SELECT 1 FROM documents s
                  WHERE s.doc_id % 4 <> 0 AND md5(s.text) = nw.text_hash)
GROUP BY 1""",

    // k is 0..99 and non-null, so // (floor) and Spark's div (trunc)
    // agree; sum cast from HUGEINT to match Spark's LongType.
    "e7_json_props" -> """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket,
       count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY 1, 2""",

    // RANGE frame over the day domain; ma7 = (sum/100.0)/n with the
    // identical division order on both sides.
    "q11_moving_avg" -> """
WITH daily AS (SELECT CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day,
                      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
               FROM orders GROUP BY 1)
SELECT day, rev_c / 100.0 AS revenue,
       (CAST(sum(rev_c) OVER w AS BIGINT) / 100.0)
         / CAST(count(*) OVER w AS BIGINT) AS ma7
FROM daily
WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""",

    // Pivot twin: one pass of FILTERed counts (0, not NULL, for missing
    // combinations — the Spark side coalesces to match).
    "e8_event_pivot" -> """
SELECT epoch_ns(ts) // 3600000000000 AS hr,
       count(*) FILTER (WHERE event_type = 'view') AS n_view,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events GROUP BY 1""",

    // Salted-join twin: salting is row-identical to the plain join, so
    // the oracle is the plain join + aggregate.
    "e9_skew_enrich" -> s"""
WITH d AS (SELECT event_type, count(*) AS type_n FROM events GROUP BY 1)
SELECT e.event_type, d.type_n, count(*) AS n_joined,
       ${moneySum("e.value", 10000)} / 10000.0 AS sum_value
FROM events e JOIN d USING (event_type)
GROUP BY 1, 2""",

    // Disjunctive-predicate join (Q19 shape): same OR-of-ANDs, exact
    // cents. l_quantity cast BIGINT on both sides before the range
    // compares.
    "q17_brand_revenue" -> s"""
SELECT ${moneySum("l_extendedprice * (1 - l_discount)", 10000)} / 10000.0 AS revenue,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)""",

    // Q21 shape: exists(other supplier in the order) AND NOT
    // exists(other supplier also returned) — the oracle keeps the
    // correlated form DuckDB decorrelates itself; Spark's plan is the
    // explicit semi+anti pair on the same orderkey key.
    "q18_blame_supplier" -> """
WITH l AS (SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       count(*) AS n_blame
FROM l l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1, 2""",

    // Q13 shape: the predicate lives ON the left join, so customers
    // with only urgent orders count 0 instead of disappearing.
    "q19_order_count_dist" -> """
WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY 1)
SELECT c_count, count(*) AS custdist FROM co GROUP BY 1""",

    // Q15 shape: suppliers AT the max quarterly revenue; the max
    // compares exact integer cents so ties are engine-independent.
    "q20_top_supplier" -> s"""
WITH rev AS (SELECT l_suppkey,
                    ${moneySum("l_extendedprice * (1 - l_discount)", 10000)} AS rev_c
             FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
             GROUP BY 1)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       rev_c / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_c = (SELECT max(rev_c) FROM rev)""",

    // Q22 shape: above-average balance via the exact cross-multiplied
    // integer predicate (never a float average), dormancy via NOT
    // EXISTS on recent orders (mirrors left_anti's null semantics).
    "q21_lonely_customers" -> """
WITH c AS (SELECT c_custkey, c_mktsegment,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
           FROM customer),
a AS (SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c, count(*) AS cnt
      FROM c WHERE bal_c > 0)
SELECT c_mktsegment, count(*) AS n_cust,
       CAST(sum(bal_c) AS BIGINT) / 100.0 AS total_bal
FROM c, a
WHERE bal_c * cnt > sum_c
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c.c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
GROUP BY 1""",

    // Argmax join-back: rank mirrors the struct max's lexicographic
    // (bal DESC, custkey DESC) tie order.
    "q22_top_balance" -> """
WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_nationkey,
                  c_name,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
           FROM customer),
r AS (SELECT *, row_number() OVER (PARTITION BY c_nationkey
        ORDER BY bal_c DESC, c_custkey DESC) AS rn FROM c)
SELECT n_name, c_custkey, c_name, bal_c / 100.0 AS acctbal
FROM r JOIN nation ON c_nationkey = n_nationkey WHERE rn = 1""",

    // Watermark-lateness twin: arrival order is the v5 hash permutation
    // of event_id; high-water mark over arrival order, late = trails it
    // by > 1h in exact µs. FILTERed aggregates leave max_late_us NULL
    // for never-late users, matching Spark's conditional max.
    "e11_late_events" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  CAST(event_id AS BIGINT) AS event_id,
                  ((CAST(event_id AS BIGINT) % 2147483647) * 2654435761) % 2147483647
                    AS arr,
                  epoch_us(ts) AS us FROM events),
h AS (SELECT user_id, us,
             max(us) OVER (PARTITION BY user_id ORDER BY arr, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      FROM x)
SELECT user_id, count(*) AS n_events,
       CAST(count(*) FILTER (hwm - us > 3600000000) AS BIGINT) AS n_late,
       max(hwm - us) FILTER (hwm - us > 3600000000) AS max_late_us
FROM h GROUP BY 1""",

    // Daily top-3 spenders: exact-cents rollup, then rank with the
    // same (cents DESC, user_id) tie order the partial top-k uses.
    "e12_top_spenders" -> s"""
WITH s AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT)
                    AS day_epoch,
                  CAST(user_id AS BIGINT) AS user_id,
                  ${moneySum("\"value\"", 100)} AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
r AS (SELECT day_epoch, user_id, cents,
             row_number() OVER (PARTITION BY day_epoch
               ORDER BY cents DESC, user_id) AS rnk
      FROM s)
SELECT day_epoch, CAST(rnk AS BIGINT) AS rnk, user_id,
       cents / 100.0 AS spend
FROM r WHERE rnk <= 3""",

    // Sliding 3-day DAU: each event fans out to the 3 windows that
    // contain its day, then exact distinct per window.
    "e13_sliding_dau" -> """
WITH x AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
                    AS day,
                  CAST(user_id AS BIGINT) AS user_id
           FROM events),
w AS (SELECT (day - off) * 86400 AS window_epoch, user_id
      FROM x, (SELECT unnest(range(3)) AS off))
SELECT window_epoch, CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
       count(*) AS n_events
FROM w GROUP BY 1""",

    // Cadence: per-user gap sums in HUGEINT (the Decimal(38,0) twin),
    // variance via the exact v19 identity, one division at the end.
    "e14_cadence" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  CAST(event_id AS BIGINT) AS event_id,
                  epoch_us(ts) AS us FROM events),
gp AS (SELECT user_id,
              us - lag(us) OVER (PARTITION BY user_id
                ORDER BY us, event_id) AS gap
       FROM x),
a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             sum(CAST(gap AS HUGEINT)) AS sg,
             sum(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS sg2
      FROM gp WHERE gap IS NOT NULL GROUP BY 1)
SELECT user_id, n_gaps,
       CAST(sg AS DOUBLE) / n_gaps AS mean_gap_us,
       CASE WHEN n_gaps >= 2
            THEN CAST(n_gaps * sg2 - sg * sg AS DOUBLE)
                   / CAST(n_gaps * (n_gaps - 1) AS DOUBLE)
            ELSE 0.0 END AS var_gap
FROM a""",

    // Transition matrix: consecutive event-type pairs per user via the
    // same (us, event_id) lag order, exact counts + distinct reach.
    "e15_transitions" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  CAST(event_id AS BIGINT) AS event_id,
                  event_type, epoch_us(ts) AS us FROM events),
p AS (SELECT user_id, event_type AS to_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY us, event_id) AS from_type
      FROM x)
SELECT from_type, to_type, count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2""",

    // Q18 shape: HAVING on the per-order quantity rollup, then
    // attribute join-back. l_quantity is integral by schema.
    "q23_big_orders" -> """
WITH t AS (SELECT l_orderkey,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
           FROM lineitem GROUP BY 1 HAVING total_qty > 300)
SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(round(o_totalprice * 100) AS BIGINT) / 100.0 AS o_totalprice,
       total_qty
FROM t JOIN orders ON o_orderkey = t.l_orderkey
       JOIN customer ON o_custkey = c_custkey""",

    // Q14 shape: conditional exact-cents sums over ONE scan; the share
    // is a single float division of exact integers.
    "q24_promo_share" -> s"""
WITH j AS (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                  CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT) AS disc_c,
                  p_type
           FROM lineitem JOIN part ON l_partkey = p_partkey),
a AS (SELECT ship_month,
             CAST(sum(CASE WHEN p_type = 'PROMO' THEN disc_c ELSE 0 END)
               AS BIGINT) AS promo_c,
             CAST(sum(disc_c) AS BIGINT) AS rev_c
      FROM j GROUP BY 1)
SELECT ship_month, promo_c / 10000.0 AS promo_revenue,
       rev_c / 10000.0 AS total_revenue,
       CAST(promo_c AS DOUBLE) / rev_c AS promo_share
FROM a""",

    // Q16 shape: two-phase distinct counts per brand in a size band.
    "q25_supplier_variety" -> """
SELECT p_brand,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size BETWEEN 10 AND 40
GROUP BY 1""",

    // Spike days: trailing-7-day RANGE frame over the daily rollup;
    // the spike test is the exact cross-multiplied comparison.
    "e16_spike_days" -> """
WITH dly AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
                      AS day,
                    count(*) AS n
             FROM events GROUP BY 1),
w AS (SELECT day, n,
             CAST(coalesce(sum(n) OVER pw, 0) AS BIGINT) AS sum_prior,
             CAST(count(*) OVER pw AS BIGINT) AS n_prior
      FROM dly
      WINDOW pw AS (ORDER BY day RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT day * 86400 AS day_epoch, n, n_prior, sum_prior,
       CAST(CASE WHEN n_prior > 0 AND n * n_prior > 2 * sum_prior
                 THEN 1 ELSE 0 END AS BIGINT) AS is_spike
FROM w""",

    // t7's positional-selection twin on the relational surface: value
    // at rank r in the per-priority cents sort order, exact ranks.
    "q26_price_quantiles" -> """
WITH o AS (SELECT o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
rk AS (SELECT o_orderpriority, cents,
              row_number() OVER (PARTITION BY o_orderpriority
                ORDER BY cents) AS rn,
              count(*) OVER (PARTITION BY o_orderpriority) AS n
       FROM o)
SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
       max(CASE WHEN rn = (n + 1) // 2 THEN cents END) / 100.0 AS p50,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) / 100.0 AS p90,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) / 100.0 AS p99
FROM rk GROUP BY 1""",

    // Day-of-week profile: exact epoch-day arithmetic ((day+4) mod 7),
    // conditional counts, two-phase distinct users.
    "e17_dow_profile" -> s"""
WITH x AS (SELECT (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 + 4)
                    % 7 AS dow,
                  event_type, CAST(user_id AS BIGINT) AS user_id,
                  CAST(round("value" * 10000) AS BIGINT) AS val_c
           FROM events)
SELECT dow, count(*) AS n,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
         AS n_purchase,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(val_c) AS BIGINT) / 10000.0 AS sum_value,
       CAST(count(*) FILTER (event_type = 'purchase') AS DOUBLE) / count(*)
         AS purchase_share
FROM x GROUP BY 1""",

    "q14_balance_rank" -> """
WITH r AS (SELECT n_name, CAST(c_custkey AS BIGINT) AS c_custkey, c_acctbal,
                  rank() OVER w AS rnk,
                  percent_rank() OVER w AS pct_rank
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC))
SELECT n_name, c_custkey, c_acctbal, CAST(rnk AS BIGINT) AS rnk, pct_rank
FROM r WHERE rnk <= 5""",

    "q13_balance_quartiles" -> s"""
WITH t AS (SELECT n_name, c_acctbal,
                  ntile(4) OVER (PARTITION BY n_name
                    ORDER BY c_acctbal DESC, c_custkey) AS quartile
           FROM customer JOIN nation ON c_nationkey = n_nationkey)
SELECT n_name, CAST(quartile AS BIGINT) AS quartile, count(*) AS n,
       ${moneySum("c_acctbal", 100)} / 100.0 AS sum_acctbal,
       min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
FROM t GROUP BY 1, 2""",

    // Confusion matrix of gold lang vs t1's stopword-heuristic
    // prediction (same formula as t1_lang_id).
    "t10_lang_confusion" -> s"""
WITH d AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
c AS (SELECT lang,
             CASE WHEN len(list_filter(toks, t -> t IN $stopList))
                       / len(toks) >= 0.1
                  THEN 'en' ELSE 'other' END AS lang_pred
      FROM d)
SELECT lang, lang_pred, count(*) AS n FROM c GROUP BY 1, 2""",

    // Conversion lag: conditional FILTER mins per user, both-events
    // users only; exact-µs integers (negative lag is valid signal).
    "e10_conversion_lag" -> """
WITH u AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  min(epoch_us(ts)) FILTER (event_type = 'view')
                    AS first_view_us,
                  min(epoch_us(ts)) FILTER (event_type = 'purchase')
                    AS first_purchase_us
           FROM events GROUP BY 1)
SELECT user_id, first_view_us, first_purchase_us,
       first_purchase_us - first_view_us AS lag_us
FROM u
WHERE first_view_us IS NOT NULL AND first_purchase_us IS NOT NULL""",

    "e6_retention" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  epoch_us(ts) // 604800000000 AS wk
           FROM events),
c AS (SELECT user_id, min(wk) AS cohort_wk FROM x GROUP BY 1),
a AS (SELECT DISTINCT x.user_id, c.cohort_wk,
             x.wk - c.cohort_wk AS week_offset
      FROM x JOIN c ON c.user_id = x.user_id)
SELECT cohort_wk, week_offset, count(*) AS n_users
FROM a GROUP BY 1, 2""",

    "q6_forecast_revenue" -> s"""
SELECT ${moneySum("l_extendedprice * l_discount", 10000)} / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24""",

    "m2_decode_features" -> """
WITH ch AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
                   unnest(range(strlen(text))) AS i,
                   text AS t
            FROM documents),
b AS (SELECT asset_id, CAST(i % 8 AS BIGINT) AS dim,
             ascii(substr(t, CAST(i AS INT) + 1, 1)) AS code
      FROM ch)
SELECT asset_id, dim,
       CAST(sum(code) AS BIGINT) / count(*) AS feature
FROM b GROUP BY 1, 2""",

    // Chunking: starts are multiples of the stride while start < n_tok;
    // chunk_idx = start // stride exactly (starts are stride multiples).
    "t15_chunks" -> """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
             CAST(unnest(range(0, len(toks), 48)) AS BIGINT) AS tok_start
      FROM d)
SELECT doc_id, tok_start // 48 AS chunk_idx, tok_start,
       least(64, n_tok - tok_start) AS n_chunk_toks,
       md5(array_to_string(list_slice(toks, CAST(tok_start AS INT) + 1,
         CAST(tok_start AS INT) + 64), ' ')) AS chunk_hash
FROM c""",

    // Bigram LM: positional pairs via two zipped unnests; per-head
    // argmax mirrors the Spark max(struct(n, w2)) tie order
    // (highest n, then lexicographically last continuation).
    "t16_bigram_lm" -> """
WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
bg AS (SELECT unnest(list_transform(range(len(toks) - 1), i -> toks[i+1])) AS w1,
              unnest(list_transform(range(len(toks) - 1), i -> toks[i+2])) AS w2
       FROM d),
c AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
h AS (SELECT w1, w2, n, sum(n) OVER (PARTITION BY w1) AS n_head,
             row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2 DESC) AS rn
      FROM c)
SELECT w1, CAST(n_head AS BIGINT) AS n_head, w2 AS top_next, n AS n_top,
       CAST(n AS DOUBLE) / n_head AS p_top
FROM h WHERE rn = 1 AND n_head >= 10""",

    // Quota sampling: exact basis-point thresholds from the per-source
    // and total token masses; the keep rule is the v5/v9 congruent hash.
    "p4_quota_sample" -> """
WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              FROM documents),
per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens
        FROM base GROUP BY 1),
tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tot_tokens,
               count(*) AS n_sources FROM per),
thr AS (SELECT source, src_tokens,
               CAST(least(10000, (tot_tokens * 10000)
                 // (n_sources * src_tokens)) AS BIGINT) AS thr_bp
        FROM per, tot),
kept AS (SELECT b.source, b.n_tok
         FROM base b JOIN thr USING (source)
         WHERE ((b.doc_id % 2147483647) * 2654435761) % 2147483647 % 10000
               < thr.thr_bp)
SELECT source, thr_bp, src_tokens,
       count(*) AS n_docs_kept, CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept
FROM kept JOIN thr USING (source) GROUP BY 1, 2, 3""",

    // Image-text pairing: t2's quality formula + m1's byte length +
    // the exact integer norm, inner-joined by id.
    "m6_pair_manifest" -> s"""
WITH $pairManifestCtes
SELECT qd.doc_id AS pair_id, qd.n_bytes, qd.n_tok, qd.quality,
       sqrt(v.normsq) / $vscale.0 AS norm
FROM qd JOIN v ON v.vec_id = qd.doc_id
WHERE qd.quality >= 0.4 AND qd.n_tok >= 10""",

    // Dataset-publishing split: m6's manifest stratified by modality,
    // v9's portable mod-first hash deciding train/val.
    "m7_stratified_split" -> s"""
WITH $pairManifestCtes,
pairs AS (SELECT qd.doc_id AS pair_id, qd.n_bytes, qd.n_tok
          FROM qd JOIN v ON v.vec_id = qd.doc_id
          WHERE qd.quality >= 0.4 AND qd.n_tok >= 10),
lab AS (SELECT pair_id, n_bytes, n_tok,
               CASE pair_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS modality,
               CASE WHEN ((pair_id % 2147483647) * 2654435761)
                         % 2147483647 % 5 = 0
                    THEN 'val' ELSE 'train' END AS split
        FROM pairs)
SELECT modality, split, count(*) AS n_pairs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM lab GROUP BY 1, 2""",

    "m1_binary_meta" -> """
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents""",

    // Shard packing manifest: HUGEINT window sum cast back before the
    // floor division; operands non-negative so // matches Spark's div.
    "m3_shard_assign" -> """
WITH a AS (SELECT CAST(doc_id AS BIGINT) AS asset_id, source,
                  CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents),
c AS (SELECT asset_id, source, n_bytes,
             CAST(coalesce(sum(n_bytes) OVER (PARTITION BY source
               ORDER BY asset_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS bytes_before
      FROM a)
SELECT source, bytes_before // 8192 AS shard_id, count(*) AS n_assets,
       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
       CAST(min(asset_id) AS BIGINT) AS first_asset,
       CAST(max(asset_id) AS BIGINT) AS last_asset
FROM c GROUP BY 1, 2""",

    // Modality inventory: byte totals are exact integers, the one
    // IEEE division (avg) happens on the final aggregates; modality
    // derives from doc_id % 3 (non-negative, so % matches pmod).
    "m4_modality_stats" -> """
WITH a AS (SELECT CAST(doc_id AS BIGINT) AS asset_id, source,
                  CAST(strlen(text) AS BIGINT) AS n_bytes,
                  sha256(text) AS sha,
                  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       ELSE 'video' END AS modality
           FROM documents)
SELECT source, modality, count(*) AS n_assets,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(max(n_bytes) AS BIGINT) AS max_bytes,
       CAST(count(DISTINCT sha) AS BIGINT) AS n_distinct_payloads,
       CAST(sum(n_bytes) AS BIGINT) / count(*) AS avg_bytes
FROM a GROUP BY 1, 2""",

    // Frame manifest: the same 0..duration step-250 offset list,
    // unnested; frame_idx is the offset's exact integer quotient.
    "m5_frame_sample" -> """
WITH a AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
                  CAST(strlen(text) AS BIGINT) AS duration_ms
           FROM documents),
f AS (SELECT asset_id, duration_ms,
             unnest(range(0, duration_ms + 1, 250)) AS offset_ms
      FROM a)
SELECT asset_id, duration_ms, offset_ms // 250 AS frame_idx,
       offset_ms
FROM f""",

    // Ratio of exact-cents aggregates: one conditional sum over one
    // scan of the star join, a single IEEE division for the share.
    "q12_market_share" -> """
WITH j AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS rev,
                  c_mktsegment AS seg
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey)
SELECT yr,
       CAST(sum(CASE WHEN seg = 'BUILDING' THEN rev ELSE 0 END) AS BIGINT)
         / CAST(sum(rev) AS BIGINT) AS share,
       CAST(sum(rev) AS BIGINT) / 10000.0 AS total_revenue
FROM j GROUP BY 1""",

    "q1_pricing_summary" -> s"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       ${moneySum("l_extendedprice", 100)} / 100.0 AS sum_base,
       ${moneySum(discPrice, 10000)} / 10000.0 AS sum_disc,
       ${moneySum(s"($discPrice) * (1 + l_tax)", 10000)} / 10000.0 AS sum_charge,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) / count(*) AS avg_qty,
       (${moneySum("l_extendedprice", 100)} / 100.0) / count(*) AS avg_price,
       count(*) AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2""",

    "q3_top_orders" -> s"""
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       ${moneySum(discPrice, 10000)} / 10000.0 AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY ${moneySum(discPrice, 10000)} DESC, o_orderkey
LIMIT 10""",

    "q5_revenue_by_nation" -> s"""
SELECT n_name, ${moneySum(discPrice, 10000)} / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1""",

    "q7_top_customers" -> """
WITH r AS (SELECT n_name, CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_acctbal,
                  row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rnk
           FROM customer JOIN nation ON c_nationkey = n_nationkey)
SELECT n_name, c_custkey, c_name, c_acctbal, rnk FROM r WHERE rnk <= 3""",

    "e1_event_window_agg" -> s"""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       event_type, count(*) AS n,
       ${moneySum("\"value\"", 10000)} / 10000.0 AS sum_value
FROM events GROUP BY 1, 2""",

    "q4_late_priority" -> """
SELECT o_orderpriority, count(*) AS n
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY 1""",

    // Correlated scalar-agg join decorrelated; 0.2*avg cross-multiplied
    // to the exact integer predicate 5*qty*cnt < sum.
    "q10_small_qty_revenue" -> s"""
WITH pa AS (SELECT l_partkey,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(count(*) AS BIGINT) AS cnt_qty
            FROM lineitem GROUP BY 1)
SELECT ${moneySum("l_extendedprice", 100)} / 700.0 AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_small
FROM lineitem JOIN pa USING (l_partkey)
WHERE CAST(l_quantity AS BIGINT) * 5 * cnt_qty < sum_qty""",

    "q9_revenue_rollup" -> s"""
WITH j AS (SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
                  l_extendedprice, l_discount
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey)
SELECT coalesce(n_name, 'ALL') AS nation, coalesce(yr, -1) AS yr,
       ${moneySum(discPrice, 10000)} / 10000.0 AS revenue,
       count(*) AS n
FROM j GROUP BY ROLLUP(n_name, yr)""",

    "q15_revenue_cube" -> s"""
WITH j AS (SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
                  l_extendedprice, l_discount
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey)
SELECT coalesce(n_name, 'ALL') AS nation, coalesce(yr, -1) AS yr,
       ${moneySum(discPrice, 10000)} / 10000.0 AS revenue,
       count(*) AS n
FROM j GROUP BY CUBE(n_name, yr)""",

    "q16_segment_setops" -> """
WITH b AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM customer
           WHERE c_mktsegment = 'BUILDING'),
r AS (SELECT CAST(o_custkey AS BIGINT) AS c_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
SELECT c_custkey, 'active' AS op FROM (SELECT * FROM b INTERSECT SELECT * FROM r)
UNION ALL
SELECT c_custkey, 'inactive' AS op FROM (SELECT * FROM b EXCEPT SELECT * FROM r)""",

    "q8_inactive_customers" -> s"""
SELECT n_name, count(*) AS n_inactive,
       ${moneySum("c_acctbal", 100)} / 100.0 AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
GROUP BY 1""",

    "e3_asof_join" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  CAST(event_id AS BIGINT) AS event_id,
                  epoch_us(ts) AS us, event_type
           FROM events),
p AS (SELECT user_id, event_id, us FROM x WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id, us FROM x WHERE event_type = 'click'),
j AS (SELECT p.user_id, p.event_id, p.us,
             c.event_id AS click_id, c.us AS click_us,
             row_number() OVER (PARTITION BY p.event_id
               ORDER BY c.us DESC, c.event_id DESC) AS rn
      FROM p JOIN c ON c.user_id = p.user_id AND c.us <= p.us)
SELECT user_id, event_id, us, click_id, click_us FROM j WHERE rn = 1""",

    "e4_range_join" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  CAST(event_id AS BIGINT) AS event_id,
                  epoch_us(ts) AS us, event_type
           FROM events),
p AS (SELECT user_id, event_id, us FROM x WHERE event_type = 'purchase'),
v AS (SELECT user_id, us FROM x WHERE event_type = 'view')
SELECT p.user_id, p.event_id, p.us, count(*) AS n_range
FROM p JOIN v ON v.user_id = p.user_id
  AND v.us >= p.us - 3600000000 AND v.us < p.us
GROUP BY 1, 2, 3""",

    "e5_funnel" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS us,
                  event_type
           FROM events),
v AS (SELECT user_id, min(us) AS t_view FROM x
      WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT x.user_id AS user_id, min(us) AS t_click
      FROM x JOIN v ON v.user_id = x.user_id
      WHERE event_type = 'click' AND us >= t_view GROUP BY 1),
p AS (SELECT x.user_id AS user_id, min(us) AS t_purchase
      FROM x JOIN c ON c.user_id = x.user_id
      WHERE event_type = 'purchase' AND us >= t_click GROUP BY 1)
SELECT v.user_id, v.t_view,
       coalesce(c.t_click, -1) AS t_click,
       coalesce(p.t_purchase, -1) AS t_purchase,
       CAST(1 + (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS depth
FROM v LEFT JOIN c ON c.user_id = v.user_id
LEFT JOIN p ON p.user_id = v.user_id""",

    "e2_sessionize" -> """
WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      FROM x)
SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM l GROUP BY 1""",

    // PQ-ADC recall vs the exact scan: both chains reuse their gated
    // CTE text (pqAdcCtes / v1's exact ranking) so the eval can never
    // drift from the operators it scores.
    "v36_pq_recall" -> s"""
WITH ${pqAdcCtes()},
ha AS (SELECT query_id, gid FROM r WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",

    // faiss's list-imbalance factor over v6's gated assignment chain.
    "v37_ivf_balance" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
d AS (SELECT gid, cid, ${l2sq("gvec", "cvec")} AS d2 FROM g CROSS JOIN c),
a AS (SELECT gid, cid, d2,
             row_number() OVER (PARTITION BY gid ORDER BY d2, cid) AS rn
      FROM d),
cnt AS (SELECT cid, count(*) AS n FROM a WHERE rn = 1 GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS nlist,
       CAST(sum(n) AS BIGINT) AS n_total,
       CAST(max(n) AS BIGINT) AS max_n, CAST(min(n) AS BIGINT) AS min_n,
       CAST(count(*) * CAST(sum(n * n) AS BIGINT) AS BIGINT)
         / CAST(CAST(sum(n) AS BIGINT) * CAST(sum(n) AS BIGINT) AS BIGINT)
         AS imbalance
FROM cnt""",

    // Containment verify over d2's guarded candidate chain: only the
    // formula after `v` differs (least() instead of the union size).
    "d17_containment" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d")}
SELECT v.a_id, v.b_id, v.inter,
       CAST(len(sa.sh) AS BIGINT) AS n_a,
       CAST(len(sb.sh) AS BIGINT) AS n_b,
       v.inter / least(CAST(len(sa.sh) AS BIGINT),
                       CAST(len(sb.sh) AS BIGINT)) AS containment
FROM v JOIN s sa ON sa.doc_id = v.a_id JOIN s sb ON sb.doc_id = v.b_id
WHERE v.inter / least(CAST(len(sa.sh) AS BIGINT),
                      CAST(len(sb.sh) AS BIGINT)) >= 0.5""",

    "p5_source_dup_rate" -> """
SELECT source, count(*) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) / count(*)
         AS dup_rate
FROM documents GROUP BY 1""",

    "t17_source_vocab" -> """
WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
           FROM documents),
c AS (SELECT source, tok, count(*) AS n FROM t GROUP BY 1, 2)
SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       count(*) / CAST(sum(n) AS BIGINT) AS ttr
FROM c GROUP BY 1""",

    // Gaps-and-islands: consecutive days share day - row_number().
    "e18_user_streaks" -> """
WITH ad AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
                   CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
                     AS day
            FROM events),
r AS (SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM ad),
g AS (SELECT user_id, day - rn AS grp, count(*) AS len
      FROM r GROUP BY 1, 2)
SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       count(*) AS n_streaks
FROM g GROUP BY 1""",

    // TPC-H Q11 shape; the HAVING is the exact cross-multiplication.
    "q27_part_value_share" -> s"""
WITH pr AS (SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
                   ${moneySum(discPrice, 10000)} AS rev_c
            FROM lineitem GROUP BY 1),
t AS (SELECT CAST(sum(rev_c) AS BIGINT) AS tot_c FROM pr)
SELECT l_partkey, rev_c / 10000.0 AS revenue, rev_c / tot_c AS share
FROM pr CROSS JOIN t WHERE rev_c * 2000 > tot_c""",

    // TPC-H Q12 shape.
    "q28_priority_class" -> """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1""",

    // TPC-H Q10 shape; aggregate before attributes, ties on custkey.
    "q29_returned_customers" -> s"""
WITH cr AS (SELECT o_custkey, ${moneySum(discPrice, 10000)} AS rev_c
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1)
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, n_name,
       rev_c / 10000.0 AS revenue
FROM cr JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY rev_c DESC, c_custkey LIMIT 20""",

    // TPC-H Q7 shape: both nation dims, all pairs, per ship year.
    "q30_nation_flow" -> s"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       ${moneySum(discPrice, 10000)} / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3""",

    // Centroid shift after one Lloyd round: sqrt(Σ(n·cv_i − s_i)²)
    // / (n·scale) — the v18 chain's (n, sum) vs the seed position.
    "v38_centroid_shift" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
c AS (SELECT gid AS cid, v AS cv FROM g WHERE gid < 10),
asn AS (SELECT gid, cid AS c0 FROM (
          SELECT g.gid, c.cid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "c.cv")}, c.cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
cnt AS (SELECT c0, CAST(count(*) AS BIGINT) AS n FROM asn GROUP BY 1),
cm AS (SELECT a.c0, i, sum(g.v[CAST(i AS INT)+1]) AS s
       FROM asn a JOIN g ON g.gid = a.gid
       CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2),
sh AS (SELECT c.cid, cnt.n,
              sum((cnt.n * c.cv[CAST(m.i AS INT)+1] - m.s)
                    * (cnt.n * c.cv[CAST(m.i AS INT)+1] - m.s)) AS a2
       FROM c JOIN cnt ON cnt.c0 = c.cid JOIN cm m ON m.c0 = c.cid
       GROUP BY 1, 2)
SELECT cid AS centroid_id, n,
       sqrt(a2) / CAST(n * $vscale AS DOUBLE) AS shift
FROM sh""",

    // Exact p99 threshold on the per-user count distribution
    // (positional selection on the count histogram, the q26 idiom).
    "e19_power_users" -> """
WITH u AS (SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS n_events
           FROM events GROUP BY 1),
h AS (SELECT n_events, count(*) AS cnt FROM u GROUP BY 1),
w AS (SELECT n_events, cnt,
             CAST(sum(cnt) OVER (ORDER BY n_events) AS BIGINT) AS cum
      FROM h),
nu AS (SELECT CAST(sum(cnt) AS BIGINT) AS nu FROM h),
thr AS (SELECT n_events AS thr FROM w CROSS JOIN nu
        WHERE cum - cnt < (99 * nu + 99) // 100
          AND (99 * nu + 99) // 100 <= cum)
SELECT u.user_id, u.n_events, thr.thr
FROM u CROSS JOIN thr WHERE u.n_events >= thr.thr""",

    "q31_repeat_customers" -> """
WITH oc AS (SELECT o_custkey, count(*) AS n_orders
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1)
SELECT c_mktsegment, count(*) AS n_customers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS repeat_rate
FROM oc JOIN customer ON o_custkey = c_custkey
GROUP BY 1""",

    // Top-10-by-df coverage per source over distinct doc shingles.
    "t18_ngram_coverage" -> s"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
           FROM documents),
s2 AS (SELECT doc_id, source, unnest(${shingleSql("toks", 3)}) AS sh
       FROM d),
c AS (SELECT source, sh, count(*) AS df FROM s2 GROUP BY 1, 2),
r AS (SELECT source, sh, df,
             row_number() OVER (PARTITION BY source
               ORDER BY df DESC, sh) AS rnk
      FROM c),
tot AS (SELECT source, CAST(sum(df) AS BIGINT) AS n_incidences
        FROM c GROUP BY 1),
top AS (SELECT source, CAST(sum(df) AS BIGINT) AS top_mass
        FROM r WHERE rnk <= 10 GROUP BY 1)
SELECT source, n_incidences, top_mass,
       top_mass / n_incidences AS coverage
FROM tot JOIN top USING (source)""",

    // In-degree histogram over v28's gated graph chain: nodes with no
    // incoming edge are restored by the left join (in_degree 0).
    "v52_graph_degree" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                ${l2sq("x.v", "y.v")} AS d2
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.gid <> y.gid),
r AS (SELECT src_id, dst_id, d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY d2, dst_id) AS rnk
      FROM cand),
dg AS (SELECT dst_id, count(*) AS deg FROM r WHERE rnk <= 3 GROUP BY 1)
SELECT CAST(coalesce(deg, 0) AS BIGINT) AS in_degree, count(*) AS n_nodes
FROM g LEFT JOIN dg ON dg.dst_id = g.gid
GROUP BY 1""",

    // MRR row: v20's exact chain picks the rank-2 target (rank 1 is the
    // query itself), v10's LSH chain supplies the approximate ranking;
    // rr is ONE integer/integer IEEE division.
    "v53_lsh_mrr" -> s"""
WITH ge AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
qe AS (SELECT gid AS query_id, v AS qvec FROM ge WHERE gid % 100 = 0),
de AS (SELECT query_id, gid, ${l2sq("v", "qvec")} AS d2 FROM ge CROSS JOIN qe),
re AS (SELECT query_id, gid,
              row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
       FROM de),
tg AS (SELECT query_id, gid AS target_id FROM re WHERE rnk = 2),
bl AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM ge),
qb AS (SELECT gid AS query_id, v AS qvec, bucket FROM bl WHERE gid % 100 = 0),
cl AS (SELECT qb.query_id, bl.gid, ${l2sq("bl.v", "qb.qvec")} AS d2
       FROM bl JOIN qb ON bl.bucket = qb.bucket),
rl AS (SELECT query_id, gid,
              row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
       FROM cl)
SELECT tg.query_id, tg.target_id,
       CAST(coalesce(rl.rnk, 0) AS BIGINT) AS found_rank,
       coalesce(CAST(1 AS BIGINT) / rl.rnk, 0.0) AS rr
FROM tg LEFT JOIN rl ON rl.query_id = tg.query_id
  AND rl.gid = tg.target_id AND rl.rnk <= 5""",

    // Per-label edge purity over v28's gated graph chain.
    "v54_knn_purity" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                ${l2sq("x.v", "y.v")} AS d2
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.gid <> y.gid),
r AS (SELECT src_id, dst_id, d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY d2, dst_id) AS rnk
      FROM cand),
e AS (SELECT src_id, dst_id FROM r WHERE rnk <= 3),
lb AS (SELECT CAST(vec_id AS BIGINT) AS id, CAST(label AS BIGINT) AS lab
       FROM embeddings)
SELECT ls.lab AS label_id, count(*) AS n_edges,
       CAST(sum(CASE WHEN ls.lab = ld.lab THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same,
       CAST(sum(CASE WHEN ls.lab = ld.lab THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS purity
FROM e JOIN lb ls ON ls.id = e.src_id JOIN lb ld ON ld.id = e.dst_id
GROUP BY 1""",

    // Simpson diversity: exact integer repeat pairs over term counts,
    // one division — the log-free diversity metric (a float entropy
    // sum would be summation-order-dependent and unmirrorable).
    "t25_simpson" -> """
WITH u AS (SELECT source, unnest(string_split(text, ' ')) AS t
           FROM documents),
c AS (SELECT source, t, count(*) AS c FROM u GROUP BY 1, 2)
SELECT source, count(*) AS vocab, CAST(sum(c) AS BIGINT) AS n_tok,
       CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs,
       CASE WHEN sum(c) > 1
            THEN CAST(sum(c * (c - 1)) AS BIGINT)
                 / (CAST(sum(c) AS BIGINT) * (CAST(sum(c) AS BIGINT) - 1))
            ELSE 0.0 END AS simpson
FROM c GROUP BY 1""",

    // Duplicate-trigram fraction: total trigram occurrences vs the
    // distinct shingle set, per doc; NULL text contracted to ''.
    "t26_dup_ngrams" -> s"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split(coalesce(text, ''), ' ') AS toks
           FROM documents),
t AS (SELECT doc_id,
             CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_tri,
             CAST(len(${shingleSql("toks", 3)}) AS BIGINT) AS n_uniq
      FROM d)
SELECT doc_id, n_tri, n_uniq,
       CASE WHEN n_tri > 0 THEN (n_tri - n_uniq) / n_tri
            ELSE 0.0 END AS dup_frac
FROM t""",

    // Bounce rate by day of session start over e2's session chain.
    "e26_bounce_rate" -> """
WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, event_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      FROM x),
f AS (SELECT user_id, us,
             sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM l),
sess AS (SELECT user_id, sess_id, min(us) AS s_us, count(*) AS n_ev
         FROM f GROUP BY 1, 2)
SELECT (s_us // 86400000000) * 86400 AS day_epoch,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
       CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS bounce_rate
FROM sess GROUP BY 1""",

    // Sweep-line peak concurrency: deltas netted per distinct instant
    // (the deterministic tie contract), one global prefix, max per day
    // of the instant.
    "e27_peak_concurrent" -> """
WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, event_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      FROM x),
f AS (SELECT user_id, us,
             sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM l),
sess AS (SELECT user_id, sess_id, min(us) AS s_us, max(us) AS e_us
         FROM f GROUP BY 1, 2),
dl AS (SELECT s_us AS us, 1 AS delta FROM sess
       UNION ALL SELECT e_us + 1 AS us, -1 AS delta FROM sess),
net AS (SELECT us, CAST(sum(delta) AS BIGINT) AS net FROM dl GROUP BY 1),
c AS (SELECT us,
             CAST(sum(net) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS conc
      FROM net)
SELECT (us // 86400000000) * 86400 AS day_epoch,
       CAST(max(conc) AS BIGINT) AS peak_concurrent,
       count(*) AS n_instants
FROM c GROUP BY 1""",

    // Manifest integrity: m6's exact quality text (pairManifestCtes)
    // decides paired vs quality_reject; the full join surfaces orphans
    // on either side.
    "m10_integrity" -> s"""
WITH c AS (SELECT CAST(doc_id AS BIGINT) AS id, 1 AS has_doc,
                  CASE WHEN (len(list_filter(toks, t -> t IN $stopList)) / len(toks)) * 0.4
                            + least(len(toks) / 100.0, 1.0) * 0.6 >= 0.4
                            AND len(toks) >= 10
                       THEN 1 ELSE 0 END AS pass
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents)),
v AS (SELECT CAST(vec_id AS BIGINT) AS id, 1 AS has_vec FROM embeddings)
SELECT CASE WHEN has_doc IS NULL THEN 'orphan_vector'
            WHEN has_vec IS NULL THEN 'unvectorized'
            WHEN pass = 1 THEN 'paired'
            ELSE 'quality_reject' END AS status,
       count(*) AS n,
       CAST(min(coalesce(c.id, v.id)) AS BIGINT) AS min_id,
       CAST(max(coalesce(c.id, v.id)) AS BIGINT) AS max_id
FROM c FULL JOIN v ON c.id = v.id
GROUP BY 1""",

    // Dedup yield by source: d19's exact keeper chain (simhash star
    // edges + guarded band pairs + reachability + max-chars/min-id
    // keeper rule) rolled up per source.
    "p7_dedup_yield" -> s"""
WITH RECURSIVE $simhashFpCtes,
rp0 AS (SELECT simhash, CAST(min(doc_id) AS BIGINT) AS rep
        FROM f GROUP BY simhash),
star AS (SELECT r.rep AS a_id, f.doc_id AS b_id
         FROM f JOIN rp0 r USING (simhash) WHERE f.doc_id <> r.rep),
rf AS (SELECT rep AS doc_id, simhash FROM rp0),
${simhashBandCtes("rf", graft.operators.Dedup.SimhashMaxBucket)},
rpair AS (SELECT sc.a_id, sc.b_id
          FROM sc JOIN rf fa ON fa.doc_id = sc.a_id
          JOIN rf fb ON fb.doc_id = sc.b_id
          WHERE ${hammingSql("fa.simhash", "fb.simhash")} <= 3),
p AS (SELECT a_id, b_id FROM star
      UNION ALL SELECT a_id, b_id FROM rpair),
${reachCtes("f", "p")},
jm AS (SELECT res.id, res.cluster_id, d0.source,
              CAST(d0.n_chars AS BIGINT) AS n_chars
       FROM res JOIN documents d0 ON d0.doc_id = res.id),
rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         ORDER BY n_chars DESC, id) AS rk FROM jm)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN rk = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_kept,
       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS keep_rate
FROM rk GROUP BY 1""",

    // IVF scan-fraction curve: v6's occupancy + v7's probe ranking,
    // one point per nprobe — the cost table v46's recall table pairs
    // with.
    "v55_scan_fraction" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
asn AS (SELECT gid, cid FROM (
          SELECT gid, cid,
                 row_number() OVER (PARTITION BY gid
                   ORDER BY ${l2sq("gvec", "cvec")}, cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
occ AS (SELECT cid, count(*) AS n_in_list FROM asn GROUP BY 1),
q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
      FROM embeddings WHERE vec_id % 100 = 0),
pr AS (SELECT query_id, cid,
              row_number() OVER (PARTITION BY query_id
                ORDER BY ${l2sq("qvec", "cvec")}, cid) AS rn
       FROM q CROSS JOIN c),
tot AS (SELECT count(*) AS n_gallery FROM g)
${Seq(1, 2, 4).map(np => s"""SELECT CAST($np AS BIGINT) AS nprobe,
       CAST(sum(n_in_list) AS BIGINT) AS total_scanned,
       CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       n_gallery,
       CAST(sum(n_in_list) AS BIGINT)
         / (CAST(count(DISTINCT query_id) AS BIGINT) * n_gallery)
         AS scan_frac
FROM pr JOIN occ USING (cid) CROSS JOIN tot
WHERE rn <= $np GROUP BY n_gallery""").mkString("\nUNION ALL\n")}""",

    // Composite IVFPQ recall: v13's full chain + v1's exact ranking,
    // joined per query (the v36/v39 recipe on the composite index).
    "v56_ivfpq_recall" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
c AS (SELECT gid AS ccid, v AS cv FROM g WHERE gid < 10),
asn AS (SELECT gid, ccid AS acid FROM (
          SELECT g.gid, c.ccid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "c.cv")}, c.ccid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
cb AS (SELECT gid AS cid, v AS cbv FROM g WHERE gid < 16),
jj AS (SELECT unnest(range(8)) AS j),
enc AS (SELECT gid, j, cid AS code FROM (
          SELECT g.gid, jj.j, cb.cid,
                 row_number() OVER (PARTITION BY g.gid, jj.j
                   ORDER BY ${subL2("g.v", "cb.cbv", "jj.j", 8)}, cb.cid) AS rn
          FROM g CROSS JOIN jj CROSS JOIN cb) WHERE rn = 1),
q AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
probe AS (SELECT query_id, ccid AS pcid FROM (
            SELECT q.query_id, c.ccid,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${l2sq("q.qvec", "c.cv")}, c.ccid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 2),
adc AS (SELECT q.query_id, e.gid,
               CAST(sum(${subL2("q.qvec", "cb.cbv", "e.j", 8)}) AS BIGINT) AS adc
        FROM probe p
        JOIN asn a ON a.acid = p.pcid
        JOIN enc e ON e.gid = a.gid
        JOIN cb ON cb.cid = e.code
        JOIN q ON q.query_id = p.query_id
        GROUP BY 1, 2),
r AS (SELECT query_id, gid, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, gid) AS rnk
      FROM adc),
ha AS (SELECT query_id, gid FROM r WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",

    // Punctuation/casing/digit profile: ASCII character-class counts
    // via regexp_replace+length on both engines; NULL text → ''.
    "t27_punct_profile" -> """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, coalesce(text, '') AS t
           FROM documents),
c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
             CAST(length(regexp_replace(t, '[^.!?]', '', 'g')) AS BIGINT)
               AS n_punct,
             CAST(length(regexp_replace(t, '[^A-Z]', '', 'g')) AS BIGINT)
               AS n_upper,
             CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS BIGINT)
               AS n_digit
      FROM d)
SELECT doc_id, n_chars, n_punct, n_upper, n_digit,
       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END
         AS punct_ratio,
       CASE WHEN n_chars > 0 THEN n_upper / n_chars ELSE 0.0 END
         AS upper_ratio,
       CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END
         AS digit_ratio
FROM c""",

    // Transition-latency matrix: e15's lag frame carrying the gap too;
    // HUGEINT sums mirror the Spark side's Decimal(38,0) (e14's rule).
    "e28_transition_latency" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  CAST(event_id AS BIGINT) AS event_id,
                  event_type, epoch_us(ts) AS us FROM events),
p AS (SELECT user_id, event_type AS to_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY us, event_id) AS from_type,
             us - lag(us) OVER (PARTITION BY user_id
               ORDER BY us, event_id) AS gap
      FROM x)
SELECT from_type, to_type, count(*) AS n,
       CAST(sum(CAST(gap AS HUGEINT)) AS DOUBLE) / count(*) AS mean_gap_us,
       CAST(max(gap) AS BIGINT) AS max_gap_us
FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2""",

    // Filtered IVF: v7's probe chain with the candidate predicate
    // added before the rank (IDSelector-on-index semantics).
    "v58_filtered_ivf" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
asn AS (SELECT gid, cid, rn FROM (
          SELECT gid, cid, row_number() OVER (PARTITION BY gid ORDER BY ${l2sq("gvec", "cvec")}, cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
kp AS (SELECT CAST(vec_id AS BIGINT) AS kid FROM embeddings
       WHERE label % 3 = 0),
q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
      FROM embeddings WHERE vec_id % 100 = 0),
probe AS (SELECT query_id, cid FROM (
            SELECT query_id, cid, row_number() OVER (PARTITION BY query_id ORDER BY ${l2sq("qvec", "cvec")}, cid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 2),
cand AS (SELECT p.query_id, a.gid, ${l2sq("gvec", "qvec")} AS d2
         FROM probe p JOIN asn a ON p.cid = a.cid
         JOIN kp ON kp.kid = a.gid
         JOIN g ON g.gid = a.gid JOIN q ON q.query_id = p.query_id),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM cand)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 3""",

    // Source-pair TF cosine: exact integer dot over shared terms, one
    // FIXED sqrt(double·double) expression per pair.
    "t29_tf_cosine" -> """
WITH u AS (SELECT source, unnest(string_split(text, ' ')) AS token
           FROM documents),
c AS (SELECT source, token, count(*) AS c FROM u GROUP BY 1, 2),
n2 AS (SELECT source, CAST(sum(c * c) AS BIGINT) AS n2 FROM c GROUP BY 1),
num AS (SELECT a.source AS a_source, b.source AS b_source,
               CAST(sum(a.c * b.c) AS BIGINT) AS num
        FROM c a JOIN c b ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2)
SELECT a_source, b_source, num, na.n2 AS na2, nb.n2 AS nb2,
       num / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         AS cosine
FROM num JOIN n2 na ON na.source = num.a_source
JOIN n2 nb ON nb.source = num.b_source""",

    // Final manifest: d19's keeper chain ∩ t12's Gopher gates (t12's
    // CTEs renamed g* to coexist with the simhash chain's d/f).
    "p8_final_manifest" -> s"""
WITH RECURSIVE $simhashFpCtes,
rp0 AS (SELECT simhash, CAST(min(doc_id) AS BIGINT) AS rep
        FROM f GROUP BY simhash),
star AS (SELECT r.rep AS a_id, f.doc_id AS b_id
         FROM f JOIN rp0 r USING (simhash) WHERE f.doc_id <> r.rep),
rf AS (SELECT rep AS doc_id, simhash FROM rp0),
${simhashBandCtes("rf", graft.operators.Dedup.SimhashMaxBucket)},
rpair AS (SELECT sc.a_id, sc.b_id
          FROM sc JOIN rf fa ON fa.doc_id = sc.a_id
          JOIN rf fb ON fb.doc_id = sc.b_id
          WHERE ${hammingSql("fa.simhash", "fb.simhash")} <= 3),
p AS (SELECT a_id, b_id FROM star
      UNION ALL SELECT a_id, b_id FROM rpair),
${reachCtes("f", "p")},
jm AS (SELECT res.id, res.cluster_id, CAST(d0.n_chars AS BIGINT) AS n_chars
       FROM res JOIN documents d0 ON d0.doc_id = res.id),
rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         ORDER BY n_chars DESC, id) AS rk FROM jm),
kp AS (SELECT CAST(id AS BIGINT) AS doc_id FROM rk WHERE rk = 1),
gd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
              string_split(text, ' ') AS toks FROM documents),
gmm AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS modal_n FROM (
          SELECT doc_id, t, count(*) AS cnt
          FROM (SELECT doc_id, unnest(toks) AS t FROM gd) GROUP BY 1, 2)
        GROUP BY 1),
gs AS (SELECT gd.doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
              CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
              CAST(len(list_filter(toks, t -> t IN $stopList)) AS BIGINT)
                AS stop_hits,
              gmm.modal_n
       FROM gd JOIN gmm USING (doc_id)),
gk AS (SELECT doc_id, n_tok FROM gs
       WHERE n_tok >= 20 AND n_tok <= 100000
         AND 3 * n_tok <= word_chars AND word_chars <= 10 * n_tok
         AND 50 * stop_hits >= n_tok
         AND 5 * modal_n <= n_tok)
SELECT kp.doc_id, d0.source, gk.n_tok
FROM kp JOIN gk USING (doc_id)
JOIN documents d0 ON d0.doc_id = kp.doc_id""",

    // Filtered recall: v15's filtered exact chain (top-3) vs v58's
    // filtered probe chain, joined per query.
    "v59_filtered_recall" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
gf AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec
       FROM embeddings WHERE label % 3 = 0),
dex AS (SELECT query_id, gid, ${l2sq("qvec", "gvec")} AS d2
        FROM gf CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 3),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
asn AS (SELECT gid, cid FROM (
          SELECT gid, cid, row_number() OVER (PARTITION BY gid ORDER BY ${l2sq("gvec", "cvec")}, cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
kp AS (SELECT CAST(vec_id AS BIGINT) AS kid FROM embeddings
       WHERE label % 3 = 0),
probe AS (SELECT query_id, cid FROM (
            SELECT query_id, cid, row_number() OVER (PARTITION BY query_id ORDER BY ${l2sq("qvec", "cvec")}, cid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 2),
cand AS (SELECT p.query_id, a.gid, ${l2sq("gvec", "qvec")} AS d2
         FROM probe p JOIN asn a ON p.cid = a.cid
         JOIN kp ON kp.kid = a.gid
         JOIN g ON g.gid = a.gid JOIN q ON q.query_id = p.query_id),
ra AS (SELECT query_id, gid,
              row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
       FROM cand),
ha AS (SELECT query_id, gid FROM ra WHERE rnk <= 3)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(count(*) AS BIGINT) AS k,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_3
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",

    // SQ8 recall: v17's quantized chain vs v1's exact ranking.
    "v60_sq8_recall" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
mm AS (SELECT i, CAST(min(v[CAST(i AS INT)+1]) AS BIGINT) AS mn,
               CAST(max(v[CAST(i AS INT)+1]) AS BIGINT) AS mx
       FROM g CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1),
mma AS (SELECT list(mn ORDER BY i) AS mns,
               list(greatest(mx - mn, 1) ORDER BY i) AS rgs FROM mm),
enc AS (SELECT gid, list_transform(range(64),
              i -> ((v[i+1] - mns[i+1]) * 255) // rgs[i+1]) AS cv
        FROM g CROSS JOIN mma),
qc AS (SELECT gid AS query_id, cv AS qcv FROM enc WHERE gid % 100 = 0),
dc AS (SELECT query_id, gid, ${l2sq("cv", "qcv")} AS d2c
       FROM enc CROSS JOIN qc),
rc AS (SELECT query_id, gid,
              row_number() OVER (PARTITION BY query_id ORDER BY d2c, gid) AS rnk
       FROM dc),
ha AS (SELECT query_id, gid FROM rc WHERE rnk <= 5),
q AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(count(*) AS BIGINT) AS k,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",

    // Market-basket pairs: per-order self-join (fanout bounded by
    // order size) + support rank.
    "q36_basket_pairs" -> """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey < b.l_partkey),
c AS (SELECT part_a, part_b, count(*) AS n_orders FROM p GROUP BY 1, 2),
r AS (SELECT part_a, part_b, n_orders,
             row_number() OVER (ORDER BY n_orders DESC, part_a, part_b)
               AS rnk
      FROM c)
SELECT CAST(rnk AS BIGINT) AS rnk, CAST(part_a AS BIGINT) AS part_a,
       CAST(part_b AS BIGINT) AS part_b, n_orders
FROM r WHERE rnk <= 10""",

    // Count-min sketch: cells keyed by (row, 3-hex-char md5 prefix) —
    // no hex→int conversion to disagree on; estimates for the true
    // top-10 tokens.
    "t28_cms_estimate" -> """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
             FROM documents),
c AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
jj AS (SELECT unnest(range(4)) AS j),
cells AS (SELECT j AS row_idx,
                 substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 3)
                   AS bucket,
                 CAST(sum(n) AS BIGINT) AS cell_n
          FROM c CROSS JOIN jj GROUP BY 1, 2),
r AS (SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token) AS rnk
      FROM c),
top AS (SELECT token, n, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 10)
SELECT t.token, t.rnk, t.n AS true_n, CAST(min(cell_n) AS BIGINT) AS est_n
FROM top t CROSS JOIN jj
JOIN cells ON cells.row_idx = jj.j
 AND cells.bucket = substr(md5(CAST(jj.j AS VARCHAR) || ':' || t.token), 1, 3)
GROUP BY 1, 2, 3""",

    // Incremental near-dup: base band index (guard applied at build)
    // probed by the batch's bands, exact-Jaccard verify on candidates.
    // Same signature/band arithmetic as minhashPairCtes, split across
    // the base/batch frames.
    "d23_incremental_neardup" -> s"""
WITH ba AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id % 4 <> 0),
bs AS (SELECT doc_id, ${shingleSql("toks", 3)} AS sh FROM ba),
bsg AS (SELECT doc_id, sh,
               list_transform(range(12), j -> list_min(list_transform(sh, x -> md5(CAST(j AS VARCHAR) || ':' || x)))) AS sig
        FROM bs),
bb AS (SELECT doc_id, j AS band_idx,
              md5(sig[3*j+1] || '|' || sig[3*j+2] || '|' || sig[3*j+3]) AS band_hash
       FROM bsg, (SELECT unnest(range(4)) AS j)),
ok AS (SELECT band_idx, band_hash FROM bb GROUP BY 1, 2
       HAVING count(*) <= ${graft.operators.Dedup.DefaultMaxBucket}),
kept AS (SELECT bb.* FROM bb JOIN ok USING (band_idx, band_hash)),
qa AS (SELECT doc_id, string_split(text, ' ') AS toks
       FROM documents WHERE doc_id % 4 = 0),
qs AS (SELECT doc_id, ${shingleSql("toks", 3)} AS sh FROM qa),
qsg AS (SELECT doc_id, sh,
               list_transform(range(12), j -> list_min(list_transform(sh, x -> md5(CAST(j AS VARCHAR) || ':' || x)))) AS sig
        FROM qs),
qb AS (SELECT doc_id, j AS band_idx,
              md5(sig[3*j+1] || '|' || sig[3*j+2] || '|' || sig[3*j+3]) AS band_hash
       FROM qsg, (SELECT unnest(range(4)) AS j)),
cand AS (SELECT DISTINCT qb.doc_id AS batch_id, kept.doc_id AS base_id
         FROM qb JOIN kept ON qb.band_idx = kept.band_idx
          AND qb.band_hash = kept.band_hash),
v AS (SELECT cand.batch_id, cand.base_id,
             CAST(len(list_filter(sa.sh, e -> list_contains(sb.sh, e))) AS BIGINT) AS inter,
             CAST(len(sa.sh) + len(sb.sh) AS BIGINT)
               - CAST(len(list_filter(sa.sh, e -> list_contains(sb.sh, e))) AS BIGINT) AS uni
      FROM cand JOIN bs sa ON sa.doc_id = cand.base_id
      JOIN qs sb ON sb.doc_id = cand.batch_id)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       CAST(base_id AS BIGINT) AS base_id, inter, uni,
       inter / uni AS jaccard
FROM v WHERE inter / uni >= 0.5""",

    // Session-level conversion: e2's session chain + a purchase flag
    // riding the rollup.
    "e31_session_conversion" -> """
WITH x AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM events),
l AS (SELECT user_id, event_id, event_type, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      FROM x),
f AS (SELECT user_id, event_type, us,
             sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM l),
sess AS (SELECT user_id, sess_id, min(us) AS s_us,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS converted
         FROM f GROUP BY 1, 2)
SELECT (s_us // 86400000000) * 86400 AS day_epoch,
       count(*) AS n_sessions,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       CAST(sum(converted) AS BIGINT) / count(*) AS conversion_rate
FROM sess GROUP BY 1""",

    // Growth accounting: distinct (user, week) frame → per-user lag
    // classes → weekly rollup; churn from the calendar-frame lag.
    "e29_lifecycle" -> """
WITH w AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
                  epoch_us(ts) // 604800000000 AS wk FROM events),
l AS (SELECT user_id, wk,
             lag(wk, 1) OVER (PARTITION BY user_id ORDER BY wk) AS prev
      FROM w),
a AS (SELECT wk, count(*) AS n_active,
             CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(sum(CASE WHEN wk - prev = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
             CAST(sum(CASE WHEN prev IS NOT NULL AND wk - prev > 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM l GROUP BY 1),
t AS (SELECT wk, n_active, n_new, n_retained, n_resurrected,
             lag(wk, 1) OVER (ORDER BY wk) AS prev_wk,
             lag(n_active, 1) OVER (ORDER BY wk) AS prev_active
      FROM a)
SELECT CAST(wk * 604800 AS BIGINT) AS week_epoch,
       n_active, n_new, n_retained, n_resurrected,
       CAST(CASE WHEN prev_wk = wk - 1 THEN prev_active - n_retained
                 ELSE 0 END AS BIGINT) AS n_churned
FROM t""",

    // Nation YoY: cents-exact yearly revenue + calendar-frame lag.
    "q35_nation_yoy" -> s"""
WITH b AS (SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS year,
                  ${moneySum(discPrice, 10000)} AS rev_c
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
t AS (SELECT n_name, year, rev_c,
             lag(rev_c, 1) OVER (PARTITION BY n_name ORDER BY year)
               AS prev_c
      FROM b)
SELECT n_name, year, rev_c / 10000.0 AS revenue,
       CASE WHEN prev_c IS NOT NULL
            THEN CAST(rev_c - prev_c AS DOUBLE) / prev_c
            ELSE 0.0 END AS yoy_growth
FROM t""",

    // Greedy graph-descent search: v28's edge chain + three unrolled
    // step CTEs (candidates = current ∪ neighbors, argmin with ties to
    // min id — the Spark loop's exact contract).
    "v57_graph_search" -> graphWalkSql,

    // Persisted-edge-list walk: identical math to v57 (the persisted
    // store must round-trip the graph bit-exactly, so the twin IS
    // v57's walk).
    "v64_graph_search_persisted" -> graphWalkSql,

    // Trained-quantizer IVF search: v26's three Lloyd rounds + a
    // fourth application of the SAME round template as the add step
    // (asn4 = gallery assigned to trained centroids), then v7's
    // probe/search shape against the trained (n, sum) table.
    // Trained residual IVFPQ: 3 Lloyd rounds → grid-floored trained
    // centroids (one deterministic IEEE division + floor per dim) →
    // v21's integer residual/codebook/ADC chain verbatim against them.
    "v68_trained_ivfpq" -> s"""
WITH $trainedIvfpqCtes
SELECT query_id, rnk, gid AS neighbor_id, sqrt(adc) / $vscale.0 AS dist
FROM rk WHERE rnk <= 5""",

    "v65_trained_ivf_search" -> s"""
WITH $trainedIvfCtes
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM rr WHERE rnk <= 5""",


    // Graph-search quality: v57's walk endpoint ranked against v1's
    // exact top-5.
    "v61_graph_recall" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
b AS (SELECT gid, v, ${lshBucket("v")} AS bucket FROM g),
cand AS (SELECT x.gid AS src_id, y.gid AS dst_id,
                ${l2sq("x.v", "y.v")} AS d2
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.gid <> y.gid),
r AS (SELECT src_id, dst_id, d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY d2, dst_id) AS rnk
      FROM cand),
e AS (SELECT src_id, dst_id FROM r WHERE rnk <= 3),
q AS (SELECT gid AS query_id, v AS qv FROM g WHERE gid % 100 = 0),
s0 AS (SELECT query_id, (SELECT min(gid) FROM g) AS cur FROM q),
${(1 to 3).map(i => s"""c$i AS (SELECT query_id, cur AS nid FROM s${i - 1}
       UNION ALL
       SELECT s.query_id, e.dst_id AS nid
       FROM s${i - 1} s JOIN e ON e.src_id = s.cur),
s$i AS (SELECT query_id, nid AS cur FROM (
          SELECT c.query_id, c.nid,
                 row_number() OVER (PARTITION BY c.query_id
                   ORDER BY ${l2sq("gv.v", "q.qv")}, c.nid) AS rn
          FROM c$i c JOIN g gv ON gv.gid = c.nid
          JOIN q ON q.query_id = c.query_id) WHERE rn = 1)""")
  .mkString(",\n")},
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qv")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid, rnk FROM rex WHERE rnk <= 5)
SELECT s3.query_id, s3.cur AS node_id,
       CAST(coalesce(hx.rnk, 0) AS BIGINT) AS exact_rank,
       CAST(CASE WHEN hx.rnk IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS in_top5
FROM s3 LEFT JOIN hx ON hx.query_id = s3.query_id
  AND hx.gid = s3.cur""",

    // Hybrid RRF: keyword top-5 (df-capped shared shingles) + vector
    // top-5 (self excluded) fused by 1/(60+rank) sums in fixed order.
    "v63_hybrid_rrf" -> s"""
WITH dd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   string_split(text, ' ') AS toks FROM documents),
ss AS (SELECT doc_id, unnest(${shingleSql("toks", 3)}) AS sg FROM dd),
dfc AS (SELECT sg FROM ss GROUP BY 1 HAVING count(*) <= 100),
sk AS (SELECT ss.* FROM ss JOIN dfc USING (sg)),
qsh AS (SELECT doc_id AS query_id, sg FROM sk WHERE doc_id % 100 = 0),
ov AS (SELECT q.query_id, c.doc_id, count(*) AS n_shared
       FROM sk c JOIN qsh q USING (sg) WHERE c.doc_id <> q.query_id
       GROUP BY 1, 2),
tt AS (SELECT query_id, doc_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY n_shared DESC, doc_id) AS tr
       FROM ov),
tt5 AS (SELECT query_id, doc_id, CAST(tr AS BIGINT) AS tr
        FROM tt WHERE tr <= 5),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec
      FROM embeddings),
q AS (SELECT gid AS query_id, gvec AS qvec FROM g WHERE gid % 100 = 0),
dv AS (SELECT query_id, gid, ${l2sq("gvec", "qvec")} AS d2
       FROM g CROSS JOIN q WHERE gid <> query_id),
rv AS (SELECT query_id, gid,
              row_number() OVER (PARTITION BY query_id
                ORDER BY d2, gid) AS vr
       FROM dv),
vv5 AS (SELECT query_id, gid AS doc_id, CAST(vr AS BIGINT) AS vr
        FROM rv WHERE vr <= 5),
f AS (SELECT coalesce(v.query_id, t.query_id) AS query_id,
             coalesce(v.doc_id, t.doc_id) AS doc_id, v.vr, t.tr
      FROM vv5 v FULL JOIN tt5 t
        ON v.query_id = t.query_id AND v.doc_id = t.doc_id),
sc AS (SELECT query_id, doc_id,
              coalesce(CAST(1 AS BIGINT) / (60 + vr), 0.0)
                + coalesce(CAST(1 AS BIGINT) / (60 + tr), 0.0) AS rrf,
              CAST(coalesce(vr, 0) AS BIGINT) AS vec_rank,
              CAST(coalesce(tr, 0) AS BIGINT) AS text_rank
       FROM f),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY rrf DESC, doc_id) AS rnk FROM sc)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf,
       vec_rank, text_rank
FROM r WHERE rnk <= 5""",

    // Tombstone search: v1's exact chain over the gallery minus the
    // delete set (anti-join, the remove_ids semantics).
    "v62_tombstone_search" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
del AS (SELECT CAST(vec_id AS BIGINT) AS tid FROM embeddings
        WHERE vec_id % 7 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec
      FROM embeddings),
ga AS (SELECT g.gid, g.gvec FROM g
       LEFT JOIN del ON del.tid = g.gid WHERE del.tid IS NULL),
d AS (SELECT query_id, gid, ${l2sq("qvec", "gvec")} AS d2
      FROM ga CROSS JOIN q),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM d)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 5""",

    // Per-asset tar index: m3's packed frame projected to (shard,
    // offset) — floor-div/mod of the same bytes_before.
    "m13_tar_index" -> """
WITH a AS (SELECT CAST(doc_id AS BIGINT) AS asset_id, source,
                  CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents),
c AS (SELECT asset_id, source, n_bytes,
             CAST(coalesce(sum(n_bytes) OVER (PARTITION BY source
               ORDER BY asset_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS bytes_before
      FROM a)
SELECT asset_id, source, bytes_before // 8192 AS shard_id,
       bytes_before % 8192 AS offset, n_bytes
FROM c""",

    // Shard-balance audit: m3's packing chain rolled up per source
    // with v37's imbalance factor.
    "m11_shard_balance" -> """
WITH a AS (SELECT CAST(doc_id AS BIGINT) AS asset_id, source,
                  CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents),
c AS (SELECT asset_id, source, n_bytes,
             CAST(coalesce(sum(n_bytes) OVER (PARTITION BY source
               ORDER BY asset_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS bytes_before
      FROM a),
sh AS (SELECT source, bytes_before // 8192 AS shard_id,
              CAST(sum(n_bytes) AS BIGINT) AS shard_bytes
       FROM c GROUP BY 1, 2)
SELECT source, count(*) AS n_shards,
       CAST(sum(shard_bytes) AS BIGINT) AS total_bytes,
       CAST(min(shard_bytes) AS BIGINT) AS min_bytes,
       CAST(max(shard_bytes) AS BIGINT) AS max_bytes,
       (CAST(count(*) AS DOUBLE)
          * CAST(sum(CAST(shard_bytes AS HUGEINT)
              * CAST(shard_bytes AS HUGEINT)) AS DOUBLE))
         / (CAST(CAST(sum(shard_bytes) AS BIGINT) AS DOUBLE)
             * CAST(CAST(sum(shard_bytes) AS BIGINT) AS DOUBLE))
         AS imbalance
FROM sh GROUP BY 1""")

  /** SQL fragment: deterministic-HLL rho for a 32-hex-char md5 column
    * named `hx` — identical string arithmetic to Queries.hllRho. */
  private val hllRhoSql: String = """
             least(4 * (29 - length(ltrim(substr(hx, 4, 29), '0')))
                   + CASE substr(ltrim(substr(hx, 4, 29), '0'), 1, 1)
                       WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                       WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                       WHEN '7' THEN 1 ELSE 0 END + 1, 35)"""

  /** SQL fragment: the raw-HLL estimate from a rolled register table
    * exposing BIGINT columns `used_registers` and `s_used` — the same
    * literal double arithmetic Queries.hllRoll folds. */
  private def hllEstSql(t: String): String =
    s"""CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
             + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE))
           * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
           * CAST(1099511627776.0 AS DOUBLE)
           / CAST($t.s_used + (4096 - $t.used_registers)
               * (CAST(1 AS BIGINT) << 40) AS DOUBLE)"""

  private val hllExtra: Map[String, String] = Map(
    "t30_hll_vocab" -> s"""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
             FROM documents),
h AS (SELECT source, md5(token) AS hx FROM tok),
r AS (SELECT source, substr(hx, 1, 3) AS bucket, $hllRhoSql AS rho FROM h),
reg AS (SELECT source, bucket, max(rho) AS m FROM r GROUP BY 1, 2),
roll AS (SELECT source, CAST(count(*) AS BIGINT) AS used_registers,
                CAST(sum(CAST(1 AS BIGINT) << (40 - m)) AS BIGINT) AS s_used
         FROM reg GROUP BY 1),
ex AS (SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS n_exact
       FROM tok GROUP BY 1)
SELECT ex.source, ex.n_exact, roll.used_registers,
       ${hllEstSql("roll")} AS est_distinct
FROM ex JOIN roll USING (source)""",
    "e32_hll_dau" -> s"""
WITH ev AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
                     AS day,
                   CAST(user_id AS BIGINT) AS user_id
            FROM events),
h AS (SELECT day, md5(CAST(user_id AS VARCHAR)) AS hx FROM ev),
r AS (SELECT day, substr(hx, 1, 3) AS bucket, $hllRhoSql AS rho FROM h),
reg AS (SELECT day, bucket, max(rho) AS m FROM r GROUP BY 1, 2),
roll AS (SELECT day, CAST(count(*) AS BIGINT) AS used_registers,
                CAST(sum(CAST(1 AS BIGINT) << (40 - m)) AS BIGINT) AS s_used
         FROM reg GROUP BY 1),
ex AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       FROM ev GROUP BY 1),
mreg AS (SELECT bucket, max(m) AS m FROM reg GROUP BY 1),
mroll AS (SELECT CAST(count(*) AS BIGINT) AS used_registers,
                 CAST(sum(CAST(1 AS BIGINT) << (40 - m)) AS BIGINT) AS s_used
          FROM mreg),
mex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM ev)
SELECT day, n_exact, used_registers, ${hllEstSql("roll")} AS est_distinct
FROM ex JOIN roll USING (day)
UNION ALL
SELECT CAST(-1 AS BIGINT) AS day, mex.n_exact, mroll.used_registers,
       ${hllEstSql("mroll")} AS est_distinct
FROM mex CROSS JOIN mroll""")

  private val r7bExtra: Map[String, String] = Map(
    // OPQ recall: v36's eval shape with the gallery CTE swapped for
    // v31's rotated one. The exact side ranks over the ROTATED gallery
    // — a signed permutation is an exact isometry in integer
    // arithmetic, so this IS v1's exact ranking (identical distances,
    // identical gid tie-breaks).
    "v69_opq_recall" -> {
      val (perm, signs) = graft.functions.VectorFunctions
        .signedPerm(64, seed = 42L)
      val permLit = perm.map(_ + 1).mkString("[", ",", "]")
      val signLit = signs.mkString("[", ",", "]")
      val rotG = s"""g0 AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v0 FROM embeddings),
g AS (SELECT gid, list_transform(range(64),
         i -> ($signLit)[i+1] * v0[($permLit)[i+1]]) AS v FROM g0)"""
      s"""
WITH ${pqAdcCtes(rotG)},
ha AS (SELECT query_id, gid FROM r WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1"""
    },

    // Retrain migration matrix: the seeded assignment (asn0) joined to
    // the trained one (asn4 — v65's add step) per gallery vector. Both
    // sides are the SAME shared round template v65 already gates.
    "v70_assign_drift" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
c AS (SELECT gid AS cid, v AS cv FROM g WHERE gid < 10),
asn0 AS (SELECT gid, cid AS lab FROM (
          SELECT g.gid, c.cid,
                 row_number() OVER (PARTITION BY g.gid
                   ORDER BY ${l2sq("g.v", "c.cv")}, c.cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
${(1 to 4).map(lloydRoundCtes).mkString(",\n")}
SELECT a0.lab AS seed_cid, a4.lab AS trained_cid, count(*) AS n
FROM asn0 a0 JOIN asn4 a4 ON a4.gid = a0.gid
GROUP BY 1, 2""",

    // Novel-query KNN: queries are exact floor-midpoints of two
    // gallery vectors (app.py's upload path — the query is NOT in the
    // index), then v1's exact ranking.
    "v72_novel_query_knn" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
qa AS (SELECT gid AS query_id, v AS va FROM g WHERE gid % 100 = 0),
qb AS (SELECT gid - 1 AS query_id, v AS vb FROM g WHERE gid % 100 = 1),
q AS (SELECT qa.query_id,
             list_transform(range(64),
               i -> CAST(floor((va[i+1] + vb[i+1]) / 2.0) AS BIGINT)) AS qvec
      FROM qa JOIN qb ON qb.query_id = qa.query_id),
d AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
      FROM g CROSS JOIN q),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM d)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 5""",

    // MMR diversified re-ranking: greedy selection over the top-10
    // relevance pool with the exact-integer λ=1/2 objective
    // min_sel d2(c,s) − d2(q,c); four unrolled greedy-step CTEs
    // (the v65 Lloyd-template pattern), ties to smaller id.
    "v73_mmr_diversify" -> s"""
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
d AS (SELECT query_id, gid, ${l2sq("v", "qvec")} AS d2 FROM g CROSS JOIN q),
c10 AS (SELECT * FROM (
         SELECT query_id, gid, d2,
                row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
         FROM d) WHERE rnk <= 10),
cv AS (SELECT c10.query_id, c10.gid, c10.d2, g.v
       FROM c10 JOIN g ON g.gid = c10.gid),
ds AS (SELECT a.query_id, a.gid AS a_gid, b.gid AS b_gid,
              ${l2sq("a.v", "b.v")} AS ds
       FROM cv a JOIN cv b ON b.query_id = a.query_id),
sel1 AS (SELECT query_id, 1 AS pick_rnk, gid, d2 FROM c10 WHERE rnk = 1),
${(2 to 5).map(mmrStepCtes).mkString(",\n")}
SELECT query_id, CAST(pick_rnk AS BIGINT) AS rnk, gid AS neighbor_id,
       sqrt(d2) / $vscale.0 AS dist
FROM sel5""",

    // Per-vector silhouette vs the seed quantizer: a2 = nearest
    // centroid d2, b2 = runner-up, s = (sqrt(b2)-sqrt(a2))/sqrt(max) —
    // exact integer a2/b2, two IEEE sqrts + one divide in mirrored
    // order (the fixed-point scale cancels).
    "v74_silhouette" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
d AS (SELECT gid, cid, ${l2sq("gvec", "cvec")} AS d2 FROM g CROSS JOIN c),
a AS (SELECT gid, cid, d2,
             row_number() OVER (PARTITION BY gid ORDER BY d2, cid) AS rn
      FROM d),
f AS (SELECT gid,
             CAST(max(CASE WHEN rn = 1 THEN cid END) AS BIGINT) AS centroid_id,
             CAST(max(CASE WHEN rn = 1 THEN d2 END) AS BIGINT) AS a2,
             CAST(max(CASE WHEN rn = 2 THEN d2 END) AS BIGINT) AS b2
      FROM a WHERE rn <= 2 GROUP BY gid)
SELECT gid AS vec_id, centroid_id, a2, b2,
       (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
         / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) AS sil
FROM f""",

    // Pair alignment: m2's stub feature recipe vs the embedding folded
    // to 8 stride sums; exact integer dot/norms, sign-exact mismatch
    // flag, one IEEE cosine division.
    "m15_pair_alignment" -> s"""
WITH ch AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
                   unnest(range(strlen(text))) AS i, text AS t
            FROM documents),
bx AS (SELECT asset_id, CAST(i % 8 AS BIGINT) AS dim,
              ascii(substr(t, CAST(i AS INT) + 1, 1)) AS code
       FROM ch),
f AS (SELECT asset_id, dim, CAST(sum(code) AS BIGINT) / count(*) AS feature
      FROM bx GROUP BY 1, 2),
qfx AS (SELECT asset_id, dim, CAST(round(feature * 100) AS BIGINT) AS qx
        FROM f),
e AS (SELECT CAST(vec_id AS BIGINT) AS pair_id, ${qv("embedding")} AS qe FROM embeddings),
tel AS (SELECT pair_id, CAST(i % 8 AS BIGINT) AS dim,
               qe[CAST(i AS INT) + 1] AS x
        FROM e CROSS JOIN (SELECT unnest(range(64)) AS i)),
tbl AS (SELECT pair_id, dim, CAST(sum(x) AS BIGINT) AS tx FROM tel GROUP BY 1, 2),
j AS (SELECT q.asset_id AS pair_id,
             CAST(sum(q.qx * t.tx) AS BIGINT) AS align_dot,
             CAST(sum(q.qx * q.qx) AS BIGINT) AS a2,
             CAST(sum(t.tx * t.tx) AS BIGINT) AS b2
      FROM qfx q JOIN tbl t ON t.pair_id = q.asset_id AND t.dim = q.dim
      GROUP BY 1)
SELECT pair_id, align_dot,
       CAST(align_dot AS DOUBLE)
         / (sqrt(CAST(a2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE))) AS cos_align,
       CAST(CASE WHEN align_dot < 0 THEN 1 ELSE 0 END AS BIGINT) AS mismatch
FROM j""",

    // Per-doc source affinity: TF cosine of each doc against its own
    // source's aggregate term counts; HUGEINT products, one IEEE
    // division per doc in mirrored order.
    "t31_source_affinity" -> """
WITH tc AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
                   unnest(string_split(text, ' ')) AS term
            FROM documents),
cd AS (SELECT doc_id, source, term, count(*) AS cd FROM tc GROUP BY 1, 2, 3),
cs AS (SELECT source, term, CAST(sum(cd) AS BIGINT) AS cs FROM cd GROUP BY 1, 2),
sn AS (SELECT source, sum(CAST(cs AS HUGEINT) * cs) AS b2 FROM cs GROUP BY 1),
dv AS (SELECT cd.doc_id, cd.source,
              sum(CAST(cd.cd AS HUGEINT) * cs.cs) AS num,
              sum(CAST(cd.cd AS HUGEINT) * cd.cd) AS a2,
              count(*) AS n_terms
       FROM cd JOIN cs ON cs.source = cd.source AND cs.term = cd.term
       GROUP BY 1, 2)
SELECT dv.doc_id, dv.source, dv.n_terms,
       CAST(num AS DOUBLE)
         / (sqrt(CAST(a2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE))) AS affinity
FROM dv JOIN sn ON sn.source = dv.source""",

    // Split-leakage audit: d2's guarded pair set joined to v9's
    // portable mod-hash split labels, keep pairs crossing the boundary.
    "p10_split_leakage" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d")},
pp AS (SELECT a_id, b_id, inter / uni AS jaccard
       FROM v WHERE inter / uni >= 0.5),
sp AS (SELECT CAST(doc_id AS BIGINT) AS id,
              CASE WHEN ((CAST(doc_id AS BIGINT) % 2147483647) * 2654435761) % 2147483647 % 5 = 0
                   THEN 'val' ELSE 'train' END AS split
       FROM documents)
SELECT p.a_id, p.b_id, sa.split AS a_split, sb.split AS b_split, p.jaccard
FROM pp p
JOIN sp sa ON sa.id = p.a_id
JOIN sp sb ON sb.id = p.b_id
WHERE sa.split <> sb.split""",

    // Query-batch dedup serving: the oracle is the PLAIN v1 ranking
    // over the doubled request batch — the gate proves the Spark
    // side's dedup-then-fan-out is bit-transparent.
    "v75_query_dedup_serve" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
q0 AS (SELECT CAST(vec_id AS BIGINT) AS query_id, ${qv("embedding")} AS qvec
       FROM embeddings WHERE vec_id % 100 = 0),
q AS (SELECT query_id, qvec FROM q0
      UNION ALL SELECT query_id + 1000000, qvec FROM q0),
dq AS (SELECT query_id, gid, ${l2sq("qvec", "gvec")} AS d2 FROM g CROSS JOIN q),
r AS (SELECT query_id, gid, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
      FROM dq)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM r WHERE rnk <= 5""",

    // Cross-doc duplicated-trigram mass: occurrence counts (NOT the
    // distinct shingle set), df over docs, join-back, per-doc rollup.
    "d24_dup_ngram_mass" -> """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split(coalesce(text, ''), ' ') AS toks
           FROM documents),
b AS (SELECT doc_id,
             CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_tri,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(len(toks) - 2),
                       i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                  ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM d),
g AS (SELECT doc_id, unnest(grams) AS gram FROM b),
m AS (SELECT doc_id, gram, count(*) AS m FROM g GROUP BY 1, 2),
df AS (SELECT gram, count(*) AS n_docs FROM m GROUP BY 1),
dd AS (SELECT m.doc_id,
              CAST(sum(CASE WHEN df.n_docs >= 2 THEN m.m ELSE 0 END) AS BIGINT)
                AS dup_mass
       FROM m JOIN df USING (gram) GROUP BY 1)
SELECT b.doc_id, b.n_tri,
       CAST(coalesce(dd.dup_mass, 0) AS BIGINT) AS dup_mass,
       CASE WHEN b.n_tri > 0
            THEN CAST(coalesce(dd.dup_mass, 0) AS BIGINT) / b.n_tri
            ELSE 0.0 END AS dup_frac
FROM b LEFT JOIN dd ON dd.doc_id = b.doc_id""",

    // Re-split fix on p10's audit: every val doc with >=1 train
    // near-copy moves to train (counted per doc).
    "p11_resplit" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d")},
pp AS (SELECT a_id, b_id FROM v WHERE inter / uni >= 0.5),
sp AS (SELECT CAST(doc_id AS BIGINT) AS id,
              CASE WHEN ((CAST(doc_id AS BIGINT) % 2147483647) * 2654435761) % 2147483647 % 5 = 0
                   THEN 'val' ELSE 'train' END AS split
       FROM documents),
lk AS (SELECT p.a_id, p.b_id, sa.split AS a_split, sb.split AS b_split
       FROM pp p
       JOIN sp sa ON sa.id = p.a_id
       JOIN sp sb ON sb.id = p.b_id
       WHERE sa.split <> sb.split),
mv AS (SELECT a_id AS doc_id FROM lk WHERE a_split = 'val'
       UNION ALL
       SELECT b_id AS doc_id FROM lk WHERE b_split = 'val')
SELECT doc_id, count(*) AS n_train_dups,
       'val' AS old_split, 'train' AS new_split
FROM mv GROUP BY 1""",

    // Selectivity-routed filtered KNN: exact-integer route predicate
    // (n_class * n_classes > n_total), both branches replayed.
    "v76_selectivity_route" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, CAST(label AS BIGINT) AS glab,
                  ${qv("embedding")} AS gvec FROM embeddings),
tot AS (SELECT count(*) AS n_total, count(DISTINCT label) AS n_classes
        FROM embeddings),
sz AS (SELECT CAST(label AS BIGINT) AS lab, count(*) AS n_class
       FROM embeddings GROUP BY 1),
rt AS (SELECT lab, CASE WHEN n_class * n_classes > n_total
                        THEN 'ivf' ELSE 'exact' END AS route
       FROM sz CROSS JOIN tot),
q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(label AS BIGINT) AS qlab,
             ${qv("embedding")} AS qvec FROM embeddings WHERE vec_id % 100 = 0),
qr AS (SELECT q.query_id, q.qlab, q.qvec, rt.route
       FROM q JOIN rt ON rt.lab = q.qlab),
ce AS (SELECT query_id, gid, ${l2sq("gvec", "qvec")} AS d2
       FROM qr JOIN g ON g.glab = qr.qlab WHERE qr.route = 'exact'),
re AS (SELECT query_id, gid, d2,
              row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk,
              'exact' AS route
       FROM ce),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
asn AS (SELECT gid, glab, gvec, cid FROM (
          SELECT g.gid, g.glab, g.gvec, c.cid,
                 row_number() OVER (PARTITION BY g.gid ORDER BY ${l2sq("gvec", "cvec")}, cid) AS rn
          FROM g CROSS JOIN c) WHERE rn = 1),
probe AS (SELECT query_id, cid FROM (
            SELECT qr.query_id, c.cid,
                   row_number() OVER (PARTITION BY qr.query_id ORDER BY ${l2sq("qvec", "cvec")}, cid) AS rn
            FROM qr CROSS JOIN c WHERE qr.route = 'ivf') WHERE rn <= 2),
ci AS (SELECT p.query_id, a.gid, ${l2sq("gvec", "qvec")} AS d2
       FROM probe p
       JOIN asn a ON a.cid = p.cid
       JOIN qr ON qr.query_id = p.query_id AND qr.qlab = a.glab),
ri AS (SELECT query_id, gid, d2,
              row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk,
              'ivf' AS route
       FROM ci),
u AS (SELECT * FROM re WHERE rnk <= 5 UNION ALL SELECT * FROM ri WHERE rnk <= 5)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist, route
FROM u""",

    // LSH precision curve: candidates grouped by band-collision count,
    // verified at Jaccard >= 0.5 via exact cross-multiplication. Reuses
    // the shared band CTEs; the template's cand/v CTEs go unreferenced.
    "d25_lsh_precision" -> s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
${minhashPairCtes("d")},
pc AS (SELECT CAST(x.doc_id AS BIGINT) AS a_id,
              CAST(y.doc_id AS BIGINT) AS b_id,
              CAST(count(*) AS BIGINT) AS n_bands
       FROM bk x JOIN bk y ON x.band_idx = y.band_idx
        AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
       GROUP BY 1, 2),
vv AS (SELECT pc.n_bands,
              CAST(len(list_filter(sa.sh, e -> list_contains(sb.sh, e))) AS BIGINT) AS inter,
              CAST(len(sa.sh) + len(sb.sh) AS BIGINT)
                - CAST(len(list_filter(sa.sh, e -> list_contains(sb.sh, e))) AS BIGINT) AS uni
       FROM pc JOIN s sa ON sa.doc_id = pc.a_id
               JOIN s sb ON sb.doc_id = pc.b_id)
SELECT n_bands, CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN 2 * inter >= uni THEN 1 ELSE 0 END) AS BIGINT)
         AS n_verified,
       CAST(sum(CASE WHEN 2 * inter >= uni THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS precision
FROM vv GROUP BY 1""",

    // Per-term burstiness: df, total/max tf, total_tf/df for df >= 10.
    "t32_term_burstiness" -> """
WITH u AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  unnest(string_split(coalesce(text, ''), ' ')) AS term
           FROM documents),
c AS (SELECT doc_id, term, count(*) AS c FROM u GROUP BY 1, 2),
a AS (SELECT term, count(*) AS df, CAST(sum(c) AS BIGINT) AS total_tf,
             CAST(max(c) AS BIGINT) AS max_tf
      FROM c GROUP BY 1)
SELECT term, df, total_tf, max_tf,
       CAST(total_tf AS DOUBLE) / df AS burstiness
FROM a WHERE df >= 10""",

    // Per-type cadence quantiles: same-type per-user gaps, second
    // granularity clipped at one day, t7's exact positional selection.
    "e34_gap_quantiles" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  CAST(event_id AS BIGINT) AS event_id,
                  event_type, epoch_us(ts) AS us FROM events),
gp AS (SELECT event_type,
              us - lag(us) OVER (PARTITION BY user_id, event_type
                ORDER BY us, event_id) AS gap
       FROM x),
g2 AS (SELECT event_type, least(gap // 1000000, 86400) AS gap_s
       FROM gp WHERE gap IS NOT NULL),
rk AS (SELECT event_type, gap_s,
              row_number() OVER (PARTITION BY event_type ORDER BY gap_s) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
       FROM g2)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
       max(CASE WHEN rn = (n + 1) // 2 THEN gap_s END) AS p50_s,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_s END) AS p90_s,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN gap_s END) AS p99_s
FROM rk GROUP BY 1""",

    // Per-source data card: exact counts of d1's dup criterion, t1's
    // language criterion, and t2's quality threshold; per-doc doubles
    // are only compared, never summed.
    "p9_source_data_card" -> s"""
WITH d AS (SELECT source, text, string_split(text, ' ') AS toks
           FROM documents),
c AS (SELECT source, CAST(len(toks) AS BIGINT) AS n_tok,
             CAST(strlen(text) AS BIGINT) AS nc, md5(text) AS h,
             len(list_filter(toks, t -> t IN $stopList)) / len(toks) AS sr,
             (len(list_filter(toks, t -> t IN $stopList)) / len(toks)) * 0.4
               + least(len(toks) / 100.0, 1.0) * 0.6 AS score
      FROM d)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       count(*) - CAST(count(DISTINCT h) AS BIGINT) AS n_exact_dups,
       CAST(sum(CASE WHEN sr >= 0.1 THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS en_share,
       CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS quality_ok_share
FROM c GROUP BY 1""",

    // Compaction report: v6's assignment chain rolled up per list with
    // v62's delete predicate; the rewrite flag cross-multiplies Longs.
    "v71_compaction_report" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS gvec FROM embeddings),
c AS (SELECT CAST(vec_id AS BIGINT) AS cid, ${qv("embedding")} AS cvec
      FROM embeddings WHERE vec_id < 10),
d AS (SELECT gid, cid, ${l2sq("gvec", "cvec")} AS d2 FROM g CROSS JOIN c),
a AS (SELECT gid, cid, d2,
             row_number() OVER (PARTITION BY gid ORDER BY d2, cid) AS rn
      FROM d),
cnt AS (SELECT cid AS centroid_id, count(*) AS n_total,
               CAST(sum(CASE WHEN gid % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dead
        FROM a WHERE rn = 1 GROUP BY 1)
SELECT centroid_id, n_total, n_total - n_dead AS n_live, n_dead,
       n_dead / n_total AS dead_frac,
       CAST(CASE WHEN n_dead * 8 > n_total THEN 1 ELSE 0 END AS BIGINT)
         AS needs_compaction
FROM cnt""",

    // Session path mining: per-user double-lead with both hops inside
    // e2's 30-minute session boundary.
    "e33_session_paths" -> """
WITH x AS (SELECT CAST(user_id AS BIGINT) AS user_id,
                  CAST(event_id AS BIGINT) AS event_id,
                  event_type, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, event_type AS p1, us, event_id,
             lead(event_type, 1) OVER w AS p2, lead(us, 1) OVER w AS us2,
             lead(event_type, 2) OVER w AS p3, lead(us, 2) OVER w AS us3
      FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
SELECT p1, p2, p3, count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM l
WHERE p3 IS NOT NULL AND us2 - us <= 1800000000
  AND us3 - us2 <= 1800000000
GROUP BY 1, 2, 3""",

    // Asset near-dup: m2's stride-mean features quantized to exact
    // integers, coarse-grid-blocked with the binding 64-asset bucket
    // cap, exact integer L2 verify within cells.
    "m14_asset_neardup" -> """
WITH ch AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
                   unnest(range(strlen(text))) AS i, text AS t
            FROM documents),
bx AS (SELECT asset_id, CAST(i % 8 AS BIGINT) AS dim,
              ascii(substr(t, CAST(i AS INT) + 1, 1)) AS code
       FROM ch),
f AS (SELECT asset_id, dim, CAST(sum(code) AS BIGINT) / count(*) AS feature
      FROM bx GROUP BY 1, 2),
qfx AS (SELECT asset_id, dim, CAST(round(feature * 100) AS BIGINT) AS q
        FROM f),
v AS (SELECT asset_id, list(q ORDER BY dim) AS qf FROM qfx GROUP BY 1),
b AS (SELECT asset_id, qf,
             array_to_string(list_transform(qf,
               x -> CAST(x // 1000 AS VARCHAR)), ':') AS bucket
      FROM v),
bs AS (SELECT bucket, count(*) AS bn FROM b GROUP BY 1),
bk AS (SELECT b.* FROM b JOIN bs USING (bucket) WHERE bs.bn <= 64),
pairs AS (SELECT x.asset_id AS a_id, y.asset_id AS b_id,
                 CAST(list_sum(list_transform(range(8),
                   i -> (x.qf[i+1] - y.qf[i+1]) * (x.qf[i+1] - y.qf[i+1])))
                   AS BIGINT) AS d2
          FROM bk x JOIN bk y ON x.bucket = y.bucket
            AND x.asset_id < y.asset_id)
SELECT a_id, b_id, d2, sqrt(d2) / 100.0 AS dist
FROM pairs WHERE d2 <= 250000""")

  /** Round-8 additions: trained PQ codebooks. */
  private val r8Extra: Map[String, String] = Map(
    // Trained-codebook PQ: sliced state → seed books (first-16
    // sub-slices) → three (j, lab)-keyed Lloyd rounds → grid-floored
    // trained codebooks → v11's encode/ADC shape against them.
    "v78_trained_pq" -> s"""
WITH $trainedPqCtes
SELECT query_id, rnk, gid AS neighbor_id, sqrt(adc) / $vscale.0 AS dist
FROM rk WHERE rnk <= 5""",

    // ef=4 beam search on the persisted graph: the final frontier
    // ranking, rn ≤ ef.
    "v79_beam_search" -> s"""
WITH $beamSearchCtes
SELECT query_id, CAST(rn AS BIGINT) AS rnk, nid AS node_id,
       sqrt(d2) / $vscale.0 AS dist
FROM fr3 WHERE rn <= 4""",

    // Beam recall: the beam's rank-1 endpoint vs the exact top-5, plus
    // how many final-frontier nodes land in the exact top-5.
    "v81_beam_recall" -> beamRecallSql(beamSearchCtes),

    // SQ4: v17's quantizer at 15 levels — shared sqKnnSql definition.
    "v82_sq4_knn" -> sqKnnSql(15),

    // SQ4 recall: the 4-bit code ranking vs v1's exact top-5.
    "v83_sq4_recall" -> s"""
WITH ${sqEncCtes(15)},
qc AS (SELECT gid AS query_id, cv AS qcv FROM enc WHERE gid % 100 = 0),
dc AS (SELECT query_id, gid, ${l2sq("cv", "qcv")} AS d2c
       FROM enc CROSS JOIN qc),
rc AS (SELECT query_id, gid,
              row_number() OVER (PARTITION BY query_id ORDER BY d2c, gid) AS rnk
       FROM dc),
ha AS (SELECT query_id, gid FROM rc WHERE rnk <= 5),
q AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(count(*) AS BIGINT) AS k,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",

    // Oversampled maximin (k-means||-style): round 0 = the anchor
    // seed, rounds 1-2 each keep the top-4 by min-distance-to-chosen
    // (desc, ties to min vec_id) — the Spark driver loop's two
    // TakeOrdered-4 collects unrolled into chained CTEs. Chosen points
    // are not excluded (md = 0 ranks them last); both engines rank the
    // identical set.
    "v84_oversampled_maximin" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, ${qv("embedding")} AS v
           FROM embeddings),
s0 AS (SELECT vec_id, v FROM g ORDER BY vec_id LIMIT 1),
c1 AS (SELECT g.vec_id, g.v, ${l2sq("g.v", "s0.v")} AS md FROM g, s0),
p1 AS (SELECT vec_id, v, md, rn FROM (
         SELECT vec_id, v, md,
                row_number() OVER (ORDER BY md DESC, vec_id) AS rn
         FROM c1) WHERE rn <= 4),
ch1 AS (SELECT v FROM s0 UNION ALL SELECT v FROM p1),
c2 AS (SELECT g.vec_id, min(${l2sq("g.v", "ch.v")}) AS md
       FROM g CROSS JOIN ch1 ch GROUP BY 1),
p2 AS (SELECT vec_id, md, rn FROM (
         SELECT vec_id, md,
                row_number() OVER (ORDER BY md DESC, vec_id) AS rn
         FROM c2) WHERE rn <= 4)
SELECT CAST(0 AS BIGINT) AS round, CAST(1 AS BIGINT) AS pick_rnk,
       vec_id, CAST(0 AS BIGINT) AS md FROM s0
UNION ALL SELECT 1, rn, vec_id, CAST(md AS BIGINT) FROM p1
UNION ALL SELECT 2, rn, vec_id, CAST(md AS BIGINT) FROM p2""",

    // Filtered beam search: v79's walk verbatim (shared CTEs), the
    // visited pool = entry ∪ every step's candidate set, predicate +
    // final top-3 rank applied to the pool (navigate-then-filter).
    "v85_filtered_beam" -> s"""
WITH $beamSearchCtes,
vis AS (SELECT DISTINCT query_id, nid FROM (
          SELECT query_id, nid FROM f0
          UNION ALL SELECT query_id, nid FROM c1
          UNION ALL SELECT query_id, nid FROM c2
          UNION ALL SELECT query_id, nid FROM c3) t),
alw AS (SELECT CAST(vec_id AS BIGINT) AS nid FROM embeddings
        WHERE label % 3 = 0),
fsc AS (SELECT v2.query_id, v2.nid, ${l2sq("gv.v", "q.qv")} AS d2
        FROM vis v2 JOIN alw ON alw.nid = v2.nid
        JOIN g gv ON gv.gid = v2.nid
        JOIN q ON q.query_id = v2.query_id),
frk AS (SELECT query_id, nid, d2,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY d2, nid) AS rn
        FROM fsc)
SELECT query_id, CAST(rn AS BIGINT) AS rnk, nid AS node_id,
       sqrt(d2) / $vscale.0 AS dist
FROM frk WHERE rn <= 3""")

  /** The three maintenance-serve SQL texts (v106/v109/v110) — hoisted
    * so the code-store compaction twins (v126/v120/v121) bind the SAME
    * strings: compaction is bit-transparent, so each rewrite key's
    * gate is its family's maintenance SQL VERBATIM (the v95/v119
    * contract applied to the code stores). */
  private lazy val pqMaintSql: String = s"""
WITH $trainedPqCtes,
alive AS (SELECT query_id, gid, adc FROM adc WHERE gid % 7 <> 0),
rk2 AS (SELECT query_id, gid, adc,
              row_number() OVER (PARTITION BY query_id
                ORDER BY adc, gid) AS rnk
        FROM alive)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(adc) / $vscale.0 AS dist
FROM rk2 WHERE rnk <= 5"""

  private lazy val sqMaintSql: String = sqKnnSql(255, " WHERE gid % 7 <> 0")

  private lazy val ivfpqMaintSql: String = s"""
WITH $trainedIvfpqCtes,
alive AS (SELECT query_id, gid, adc FROM adc WHERE gid % 7 <> 0),
rk2 AS (SELECT query_id, gid, adc,
              row_number() OVER (PARTITION BY query_id
                ORDER BY adc, gid) AS rnk
        FROM alive)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(adc) / $vscale.0 AS dist
FROM rk2 WHERE rnk <= 5"""

  val sql: Map[String, String] = base ++ hllExtra ++ r7bExtra ++ r8Extra ++ Map(
    // persisted-index serving twins: identical math (and therefore
    // identical oracle SQL) to the rebuild-shape keys — the gate checks
    // that the persisted layouts round-trip the index bit-exactly.
    "v66_ivf_search_persisted" -> base("v7_ivf_search"),
    // compaction execution: rewriting flagged partitions with
    // tombstones purged must be bit-transparent to the tombstone
    // search — v62's oracle verbatim is the gate for that claim.
    "v95_compaction_exec" -> base("v62_tombstone_search"),
    "v67_ivfpq_search_persisted" -> base("v13_ivfpq_search"),
    // segment-merge serving: two persisted half-indexes unioned at
    // serve time — bit-transparent, so v7's oracle verbatim.
    "v77_index_merge_serve" -> base("v7_ivf_search"),
    // incremental graph upsert: merged (stored base top-3 + localized
    // batch repair) must equal the graph REBUILT on the union corpus —
    // v28's full-corpus oracle verbatim is the gate for that claim.
    "v80_graph_upsert" -> base("v28_knn_graph"),
    // SQ8 serving from persisted codes: bit-transparent persistence,
    // so v17's shared sqKnnSql definition verbatim.
    "v86_sq8_persisted" -> sqKnnSql(255),
    // TRAINED-index persisted serving: the Lloyd training and the
    // encode run once into fingerprinted stores, and serving must be
    // bit-transparent — so each twin IS its rebuild-shape SQL
    // verbatim (the v66/v86 contract extended to the trained family).
    "v87_trained_pq_persisted" -> r8Extra("v78_trained_pq"),
    // Incremental code-store ingest: encode is per-row under the
    // persisted trained artifacts (PQ book / SQ params / IVFPQ
    // centroids+books), so the anti-join + encode-only-new + union
    // serve must equal the full rebuild EXACTLY — each family's gate
    // is its rebuild-shape SQL verbatim (the v80 argument).
    "v99_code_store_upsert" -> r8Extra("v78_trained_pq"),
    "v104_sq_store_upsert" -> sqKnnSql(255),
    "v105_ivfpq_store_upsert" -> base("v68_trained_ivfpq"),
    // Full store lifecycle (train → add → delete → serve): v78's
    // trained chain with the ranking recomputed over the tombstone-
    // filtered scores — dead rows drop BEFORE the top-k (v62's
    // contract composed with v99's ingest).
    "v106_store_maintenance" -> pqMaintSql,
    // Code-store compaction twins: rewriting over-threshold shards
    // with tombstones purged (serving from the compacted store behind
    // the bounded residual sidecar) must be bit-transparent to the
    // maintenance serve — each family's maintenance SQL verbatim is
    // the gate for that claim (the v95/v119 contract).
    "v126_pq_compaction" -> pqMaintSql,
    "v120_sq_compaction" -> sqMaintSql,
    "v121_ivfpq_compaction" -> ivfpqMaintSql,
    // Maintained-store retrieval quality: v106's alive-only ADC
    // ranking vs the EXACT scan over the same alive corpus — the
    // eval row the maintenance lifecycle serves under.
    "v107_maintained_recall" -> s"""
WITH $trainedPqCtes,
alive AS (SELECT query_id, gid, adc FROM adc WHERE gid % 7 <> 0),
rk2 AS (SELECT query_id, gid, adc,
              row_number() OVER (PARTITION BY query_id
                ORDER BY adc, gid) AS rnk
        FROM alive),
ha AS (SELECT query_id, gid FROM rk2 WHERE rnk <= 5),
qf AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
dex AS (SELECT qf.query_id, g.gid, ${l2sq("g.v", "qf.qvec")} AS d2
        FROM g CROSS JOIN qf WHERE g.gid % 7 <> 0),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",
    // Tombstone-aware graph serving: the beam walk over the delete
    // set — alive entry, one-hop bypass through dead neighbors, dead
    // nodes dropped before scoring (faiss remove_ids for the graph
    // family).
    "v108_graph_tombstone_search" -> s"""
WITH $tombBeamCtes
SELECT query_id, CAST(rn AS BIGINT) AS rnk, nid AS node_id,
       sqrt(d2) / $vscale.0 AS dist
FROM fr3 WHERE rn <= 4""",
    // Maintained-graph quality: v108's walk vs the alive-only exact
    // scan (the shared beam recall tail, exact side alive-filtered —
    // v107's rule, so the row measures the walk, not the deletes).
    "v113_graph_maintained_recall" ->
      beamRecallSql(tombBeamCtes, " WHERE g.gid % 7 <> 0"),
    // Segment-merge serving for the trained PQ store: per-row encode
    // under the fixed persisted book makes merged ≡ monolithic
    // exactly — v78's SQL verbatim (the v112/v116 set completed).
    "v117_pq_segment_serve" -> r8Extra("v78_trained_pq"),
    // Tombstone-aware 2-layer serving: both layers walk the delete
    // set — coarse descent with the one-hop bypass, winner seeds the
    // SHARED tombstone beam.
    "v118_hier_tombstone_search" -> s"""
WITH $tombHnswCtes
SELECT query_id, CAST(rn AS BIGINT) AS rnk, nid AS node_id,
       sqrt(d2) / $vscale.0 AS dist
FROM fr3 WHERE rn <= 4""",
    // Graph compaction: compacted ≡ rebuilt-from-alive, so the gate
    // is the plain beam walk over the ALIVE-built graph.
    "v119_graph_compaction" -> s"""
WITH $compactedBeamCtes
SELECT query_id, CAST(rn AS BIGINT) AS rnk, nid AS node_id,
       sqrt(d2) / $vscale.0 AS dist
FROM fr3 WHERE rn <= 4""",
    // SQ8 maintenance lifecycle: v17/v86's code-space chain with the
    // ranking recomputed over tombstone-filtered codes (v106's
    // contract for the scalar-quantizer store).
    "v109_sq_maintenance" -> sqMaintSql,
    // Maintained-SQ8 quality: v109's alive-only code ranking vs the
    // EXACT scan over the same alive corpus (the v107 tail).
    "v114_sq_maintained_recall" -> s"""
WITH ${sqEncCtes(255)},
q AS (SELECT gid AS query_id, cv AS qcv FROM enc WHERE gid % 100 = 0),
da AS (SELECT query_id, gid, ${l2sq("cv", "qcv")} AS d2c
       FROM enc CROSS JOIN q WHERE gid % 7 <> 0),
ra AS (SELECT query_id, gid,
              row_number() OVER (PARTITION BY query_id
                ORDER BY d2c, gid) AS rnk
       FROM da),
ha AS (SELECT query_id, gid FROM ra WHERE rnk <= 5),
qf AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
dex AS (SELECT qf.query_id, g.gid, ${l2sq("g.v", "qf.qvec")} AS d2
        FROM g CROSS JOIN qf WHERE g.gid % 7 <> 0),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",
    // IVFPQ maintenance lifecycle: v68's trained residual chain with
    // the ranking recomputed over tombstone-filtered scores (v106's
    // contract for the production-default compressed store).
    "v110_ivfpq_maintenance" -> ivfpqMaintSql,
    // Maintained-IVFPQ quality: v110's alive-only residual-ADC
    // ranking vs the EXACT scan over the same alive corpus.
    "v115_ivfpq_maintained_recall" -> s"""
WITH $trainedIvfpqCtes,
alive AS (SELECT query_id, gid, adc FROM adc WHERE gid % 7 <> 0),
rk2 AS (SELECT query_id, gid, adc,
              row_number() OVER (PARTITION BY query_id
                ORDER BY adc, gid) AS rnk
        FROM alive),
ha AS (SELECT query_id, gid FROM rk2 WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
        FROM g CROSS JOIN q WHERE g.gid % 7 <> 0),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",
    // Gram-driven greedy OPQ subspace allocation: the recursive
    // least-loaded fold over the exact variance numerators — the
    // allocation table v129 serves under.
    "v125_opq_alloc" -> s"""
WITH RECURSIVE $opqAllocCtes
SELECT s.dim, CAST(s.sub AS BIGINT) AS sub, CAST(s.slot AS BIGINT) AS slot,
       CAST(vr.vn AS DOUBLE) AS var_num
FROM slotx s JOIN vr ON vr.dim = s.dim""",
    // Greedy-allocation OPQ recall: the allocation's permutation
    // rotates the gallery, v31's seeded-book ADC chain runs verbatim,
    // v69/v102's recall tail closes — the (v69, v102, v129) triple.
    "v129_opq_alloc_recall" -> s"""
WITH RECURSIVE ${pqAdcCtes(s"""$opqAllocCtes,
pp AS (SELECT list(dim ORDER BY sub * 8 + slot) AS perm FROM slotx),
g AS (SELECT gid, list_transform(range(64),
         i -> v0[CAST(pp.perm[i + 1] AS INT) + 1]) AS v
      FROM g0 CROSS JOIN pp)""")},
ha AS (SELECT query_id, gid FROM r WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",
    // Deterministic k-means++ seeding: the bounded hash-ordered
    // sample, the uniform first pick, nine exact inverse-CDF D²-mass
    // rounds with seeded rational thresholds — the selection trace
    // (rank, seed id, total mass before the pick).
    "v124_kmeanspp_seeds" -> s"""
WITH g AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v FROM embeddings),
$kppSelectionCtes,
masses AS (SELECT 1 AS rnk, CAST(0 AS BIGINT) AS mass
           ${(1 to 9).map(r =>
      s"UNION ALL SELECT ${r + 1} AS rnk, (SELECT CAST(sum(dmin) AS BIGINT) FROM dm$r) AS mass")
      .mkString("\n           ")})
SELECT CAST(s.rnk AS BIGINT) AS rnk, s.id AS vec_id, m.mass
FROM selall s JOIN masses m ON m.rnk = s.rnk""",
    // v26's Lloyd chain FROM the k-means++ seeds: the SAME route
    // template at depth 4 with asn0 seeded by the ++ selection — the
    // (v65, v128) pair measures what ++ init buys at equal rounds.
    "v128_kmeanspp_train" -> s"""
WITH ${trainedIvfRouteCtesR(4, preCtes = "\n" + kppSelectionCtes + ",",
      seedSel =
        "SELECT s.id AS cid, g.v AS cv FROM selall s JOIN g ON g.gid = s.id")},
${trainedIvfProbeCtes(2, "")}
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM rr WHERE rnk <= 5""",
    // Warm-restart retrain: one more application of the SHARED Lloyd
    // round template from the stored round-4 state (rounds 1..5),
    // served by the same probe chain — warm ≡ cold + one round IS the
    // retrain contract, proven by the template composing.
    "v111_incremental_retrain" -> s"""
WITH ${trainedIvfRouteCtesR(5)},
${trainedIvfProbeCtes(2, "", 5)}
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM rr WHERE rnk <= 5""",
    // Segment-merge serving for the trained IVF store: per-row coarse
    // assignment under fixed stored centroids makes merged ≡
    // monolithic exactly, so the gate is v65's SQL verbatim (the
    // v77/v80 transparency argument).
    "v112_trained_segment_serve" -> base("v65_trained_ivf_search"),
    // Segment-merge serving for the trained IVFPQ store: per-row
    // residual encode under fixed persisted artifacts makes merged ≡
    // monolithic exactly — v68's SQL verbatim (the v112 pair).
    "v116_ivfpq_segment_serve" -> base("v68_trained_ivfpq"),
    // Staged residual re-encode after a warm coarse retrain: v68's
    // chain + one floored warm round from the stored assignment +
    // the mixed-encode search (only migrated rows re-encode; the
    // fixed codebook and the verbatim-kept depth-4 codes are the
    // staging contract).
    "v123_ivfpq_retrain" -> s"""
WITH $ivfpqRetrainCtes
SELECT query_id, rnk, gid AS neighbor_id, sqrt(adc) / $vscale.0 AS dist
FROM rk5 WHERE rnk <= 5""",
    // Approximate range search: the SQ8 code prefilter must be
    // LOSSLESS (its admission bound provably excludes no true pair),
    // so the gate is v24's exact range SQL verbatim — transparency,
    // like every persisted/derived serving twin.
    "v101_range_prefilter" -> base("v24_range_search"),
    // Trained-OPQ retrieval quality: v33's exact per-dim variance
    // numerators rank the dims, the descending round-robin deal
    // assigns subspaces, and the resulting permutation feeds v31's
    // ADC chain — v69's recall tail over the TRAINED rotation, so the
    // (v69, v102) pair measures what training the rotation buys.
    "v102_opq_trained_recall" -> {
      val rotG = s"""g0 AS (SELECT CAST(vec_id AS BIGINT) AS gid, ${qv("embedding")} AS v0 FROM embeddings),
dx AS (SELECT CAST(j AS BIGINT) AS dim, v0[CAST(j AS INT) + 1] AS qx
      FROM g0, (SELECT unnest(range(64)) AS j)),
da AS (SELECT dim, count(*) AS n,
             sum(CAST(qx AS HUGEINT)) AS sx,
             sum(CAST(qx AS HUGEINT) * CAST(qx AS HUGEINT)) AS sx2
      FROM dx GROUP BY 1),
dr AS (SELECT dim,
              row_number() OVER (ORDER BY (n * sx2 - sx * sx) DESC, dim) AS rn
       FROM da),
pp AS (SELECT list(dim ORDER BY ((rn - 1) % 8) * 8 + (rn - 1) // 8) AS perm
       FROM dr),
g AS (SELECT gid, list_transform(range(64),
         i -> v0[CAST(pp.perm[i + 1] AS INT) + 1]) AS v
      FROM g0 CROSS JOIN pp)"""
      s"""
WITH ${pqAdcCtes(rotG)},
ha AS (SELECT query_id, gid FROM r WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1"""
    },
    "v90_trained_ivf_persisted" -> base("v65_trained_ivf_search"),
    "v91_trained_ivfpq_persisted" -> base("v68_trained_ivfpq"),
    // Trained-IVF / trained-IVFPQ retrieval quality: the trained probe
    // rankings (v65's / v68's chains verbatim) against the exact
    // top-5 — v36's eval shape, completing the trained eval matrix
    // next to the seeded rows (v39, v56).
    "v92_trained_ivf_recall" -> s"""
WITH $trainedIvfCtes,
ha AS (SELECT query_id, gid FROM rr WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2e
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2e, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",
    "v93_trained_ivfpq_recall" -> s"""
WITH $trainedIvfpqCtes,
ha AS (SELECT query_id, gid FROM rk WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2e
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2e, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",
    // 2-layer HNSW entry: coarse greedy walk over the hash-sampled
    // layer, winner seeds the SHARED beam loop (v79's ranking shape).
    "v88_hnsw_entry" -> hnswEntrySql,
    // Hierarchical coarse-layer upsert: merged ≡ rebuilt on BOTH
    // layers (the spec's row-for-row proof), so serving from the
    // merged stores must be bit-identical to v88's — its walk SQL
    // verbatim is the gate (the v80/v99 transparency argument).
    "v103_hier_upsert" -> hnswEntrySql,
    // Hierarchical-entry beam recall: v81's shared recall tail over
    // the coarse-walk-seeded CTEs.
    "v94_hnsw_recall" -> beamRecallSql(hnswEntryCtes),
    // Multi-layer HNSW: the geometric 3-level walk (shared layer and
    // descent CTE definitions at every depth) + the shared beam loop;
    // its recall row is the shared tail over the same CTEs.
    "v122_hnsw_multilayer" -> s"""
WITH $hnswMultiCtes
SELECT query_id, CAST(rn AS BIGINT) AS rnk, nid AS node_id,
       sqrt(d2) / $vscale.0 AS dist
FROM fr3 WHERE rn <= 4""",
    "v127_hnswml_recall" -> beamRecallSql(hnswMultiCtes),
    // Trained-PQ retrieval quality: the trained ADC ranking (v78's
    // chain verbatim) against the exact top-5 — v36's eval shape, so
    // the seeded-vs-trained delta is a measured pair of rows.
    "v89_trained_pq_recall" -> s"""
WITH $trainedPqCtes,
ha AS (SELECT query_id, gid FROM rk WHERE rnk <= 5),
qf AS (SELECT gid AS query_id, v AS qvec FROM g WHERE gid % 100 = 0),
dex AS (SELECT qf.query_id, g.gid, ${l2sq("g.v", "qf.qvec")} AS d2
        FROM g CROSS JOIN qf),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",
    // Filtered trained-IVF search: the SHARED route CTEs + the nprobe=2
    // probe chain with the label predicate applied to the probed scan
    // BEFORE ranking (v58's filter-then-rank contract on the trained
    // index).
    "v98_filtered_trained_ivf" -> s"""
WITH $trainedIvfRouteCtes,
pr_f AS (SELECT query_id, lab FROM qr WHERE rn <= 2),
kp AS (SELECT CAST(vec_id AS BIGINT) AS kid FROM embeddings
       WHERE label % 3 = 0),
sc_f AS (SELECT p.query_id, a.gid, ${l2sq("gv.v", "q.qvec")} AS d2
       FROM pr_f p JOIN asn4 a ON a.lab = p.lab
       JOIN kp ON kp.kid = a.gid
       JOIN g gv ON gv.gid = a.gid
       JOIN q ON q.query_id = p.query_id),
rr_f AS (SELECT query_id, gid, d2,
              row_number() OVER (PARTITION BY query_id
                ORDER BY d2, gid) AS rnk
       FROM sc_f)
SELECT query_id, rnk, gid AS neighbor_id, sqrt(d2) / $vscale.0 AS dist
FROM rr_f WHERE rnk <= 5""",

    // Filtered trained-ANN recall: v98's filtered probe chain against
    // the FILTERED exact scan (v15's predicate on the exact side too,
    // so the row measures the index, not the filter) — the v59 shape
    // on the trained quantizer, closing the eval-matrix convention.
    "v100_filtered_trained_recall" -> s"""
WITH $trainedIvfRouteCtes,
pr_f AS (SELECT query_id, lab FROM qr WHERE rn <= 2),
kp AS (SELECT CAST(vec_id AS BIGINT) AS kid FROM embeddings
       WHERE label % 3 = 0),
sc_f AS (SELECT p.query_id, a.gid, ${l2sq("gv.v", "q.qvec")} AS d2
       FROM pr_f p JOIN asn4 a ON a.lab = p.lab
       JOIN kp ON kp.kid = a.gid
       JOIN g gv ON gv.gid = a.gid
       JOIN q ON q.query_id = p.query_id),
rr_f AS (SELECT query_id, gid, d2,
              row_number() OVER (PARTITION BY query_id
                ORDER BY d2, gid) AS rnk
       FROM sc_f),
ha AS (SELECT query_id, gid FROM rr_f WHERE rnk <= 5),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2e
        FROM g JOIN kp ON kp.kid = g.gid CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2e, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT hx.query_id,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN ha.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall_at_5
FROM hx LEFT JOIN ha ON ha.query_id = hx.query_id AND ha.gid = hx.gid
GROUP BY 1""",

    // Trained-IVF nprobe/recall curve: the SHARED route CTEs + one
    // probe chain per depth, recall@5 vs the exact scan — v46's sweep
    // on the trained quantizer (v92's nprobe=2 point sits on it).
    "v97_trained_probe_curve" -> s"""
WITH $trainedIvfRouteCtes,
${Seq(1, 2, 4).map(np => trainedIvfProbeCtes(np, s"_p$np")).mkString(",\n")},
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qvec")} AS d2e
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2e, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5),
${Seq(1, 2, 4).map(np =>
      s"ha_p$np AS (SELECT query_id, gid FROM rr_p$np WHERE rnk <= 5)")
    .mkString(",\n")}
${Seq(1, 2, 4).map(np => s"""SELECT CAST($np AS BIGINT) AS nprobe,
       CAST(sum(CASE WHEN ha_p$np.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       count(*) AS n_total,
       CAST(sum(CASE WHEN ha_p$np.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS recall
FROM hx LEFT JOIN ha_p$np ON ha_p$np.query_id = hx.query_id AND ha_p$np.gid = hx.gid""")
    .mkString("\nUNION ALL\n")}""",

    // Beam ef tuning curve: v79's walk at ef ∈ {2,4,8} (the SHARED
    // loop definition per ef, same entry), recall@5 of the final
    // frontier vs the exact top-5, and the per-step DISTINCT candidate
    // counts as the exact distance-eval cost.
    "v96_ef_curve" -> s"""
WITH $beamGraphCtes,
f0 AS (SELECT query_id, (SELECT min(gid) FROM g) AS nid FROM q),
${Seq(2, 4, 8).map(ef => s"""f0_e$ef AS (SELECT query_id, nid FROM f0),
${beamLoopCtesEf(ef, s"_e$ef")}""").mkString(",\n")},
nq AS (SELECT count(*) AS n FROM q),
dex AS (SELECT q.query_id, g.gid, ${l2sq("g.v", "q.qv")} AS d2
        FROM g CROSS JOIN q),
rex AS (SELECT query_id, gid,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, gid) AS rnk
        FROM dex),
hx AS (SELECT query_id, gid FROM rex WHERE rnk <= 5)
SELECT ef, n_hit, n_total, CAST(n_hit AS DOUBLE) / n_total AS recall,
       dist_evals
FROM (${Seq(2, 4, 8).map(ef => s"""
  SELECT CAST($ef AS BIGINT) AS ef,
         (SELECT CAST(count(*) AS BIGINT) FROM f3_e$ef f
          JOIN hx ON hx.query_id = f.query_id AND hx.gid = f.nid) AS n_hit,
         (SELECT CAST(5 * n AS BIGINT) FROM nq) AS n_total,
         (SELECT CAST(count(*) AS BIGINT) FROM c1_e$ef)
           + (SELECT CAST(count(*) AS BIGINT) FROM c2_e$ef)
           + (SELECT CAST(count(*) AS BIGINT) FROM c3_e$ef) AS dist_evals""")
      .mkString("\n  UNION ALL")})""")
}
