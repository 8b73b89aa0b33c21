package graft

import graft.functions.HashImpl

/** Shared 64-bit wrapping-arithmetic SQL primitives for the kernel oracles
  * ([[MinhashOracleSql]], [[KernelOracleSql]]): DuckDB has no native
  * wrapping 64-bit multiply, so products run as HUGEINT (int128) with an
  * explicit 32-bit split mod 2^64; values cross into SQL as unsigned and
  * convert to signed BIGINT exactly where the engine compares or emits
  * signed. splitmix64 is staged through projection columns (z1/z2/z3) —
  * inlining the whole finalizer as one expression re-evaluates shared
  * subtrees ~128× (measured: 58 s → 2.5 s at sf0.01). */
private[graft] object SqlInt64 {
  val M64 = "18446744073709551616" // 2^64
  val HALF = "9223372036854775808" // 2^63
  def u(x: Long): String = java.lang.Long.toUnsignedString(x)
  val FnvOff = u(0xcbf29ce484222325L)
  val FnvPrime = u(0x100000001b3L)
  private val C1 = u(0x9e3779b97f4a7c15L)
  private val C2 = u(0xbf58476d1ce4e5b9L)
  private val C3 = u(0x94d049bb133111ebL)

  /** (a*b) mod 2^64 via 32-bit split — each HUGEINT product stays < 2^65. */
  def mulmod(a: String, b: String): String =
    s"(((($a) % 4294967296) * (($b) % 4294967296) + " +
      s"((((($a) // 4294967296) * (($b) % 4294967296) + " +
      s"(($a) % 4294967296) * (($b) // 4294967296)) % 4294967296) * 4294967296)) % $M64)"

  // splitmix64 staged as three projection steps over short column refs
  def mixStage1(x: String) = s"((($x) + $C1) % $M64)"
  def mixStage2(z1: String) = mulmod(s"xor($z1, $z1 >> 30)", C2)
  def mixStage3(z2: String) = mulmod(s"xor($z2, $z2 >> 27)", C3)
  def mixOut(z3: String) = s"xor($z3, $z3 >> 31)"

  /** Three chained CTE stages computing mix64 of `in` into column `out`,
    * starting from CTE `from`; pass-through of `carry` columns. */
  def mixCtes(prefix: String, from: String, in: String, out: String,
              carry: String): String =
    s"""${prefix}1 AS (SELECT $carry, ${mixStage1(in)} AS z1 FROM $from),
${prefix}2 AS (SELECT $carry, ${mixStage2("z1")} AS z2 FROM ${prefix}1),
${prefix}3 AS (SELECT $carry, ${mixStage3("z2")} AS z3 FROM ${prefix}2),
$prefix AS (SELECT $carry, ${mixOut("z3")} AS $out FROM ${prefix}3)"""

  def signedB(x: String) =
    s"CAST((CASE WHEN ($x) >= $HALF THEN ($x) - $M64 ELSE ($x) END) AS BIGINT)"
  def signedH(x: String) =
    s"(CASE WHEN ($x) >= $HALF THEN ($x) - $M64 ELSE ($x) END)"
  def unsigned(x: String) =
    s"(CASE WHEN ($x) < 0 THEN CAST(($x) AS HUGEINT) + $M64 ELSE CAST(($x) AS HUGEINT) END)"

  /** Karp–Rabin polynomial fold (h = h·1000003 + codepoint, mod 2⁶⁴)
    * over the characters of string expression `s` — the SQL twin of
    * [[graft.functions.HashImpl.rollingHash]]'s pre-mix fold, shared by
    * every oracle that fingerprints text (ONE definition: a drifted copy
    * would silently disagree with the engine kernel on one query family). */
  def krFoldChars(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(unicode(c) AS HUGEINT))), " +
      s"(acc, c) -> (${mulmod("acc", "1000003")} + c) % $M64)"

  /** FNV-1a 64 fold over the characters of string column `s` (ASCII:
    * code points ≡ UTF-16 units ≡ UTF-8 bytes — the kernels' domain). */
  def fnvFoldChars(s: String): String =
    s"list_reduce(list_prepend(CAST($FnvOff AS HUGEINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(unicode(c) AS HUGEINT))), " +
      s"(acc, c) -> ${mulmod("xor(acc, c)", FnvPrime)})"
}

/** DuckDB oracle SQL for the MinHash-LSH queries — an INDEPENDENT
  * re-derivation of the fixed-seed hash arithmetic in portable SQL, so the
  * band-join candidate generation itself (not just its output shape) is
  * hash-verified against a second engine.
  *
  * The kernels are public arithmetic (FNV-1a 64 over the shingle
  * characters, splitmix64 finalizer, per-position mix with seed-derived
  * constants, FNV fold over signature row-groups for band keys — see
  * [[graft.functions.HashImpl]]). The 64 per-position constants
  * mix64(seed + j) are seed-derived at generation time with the same
  * public mixer the engine uses.
  *
  * Caveats mirrored from the kernel contract: ASCII text only (the fused
  * kernel hashes UTF-16 units, this SQL hashes code points — identical for
  * ASCII, property-tested on the engine side), and documents with ZERO
  * tokens are absent from the SQL signature relation while the kernel
  * gives them all-sentinel signatures (they'd pair only with other empty
  * docs; the corpus has none at any SF — checked, and harmless for the
  * queries' ≥-threshold outputs unless two empty docs coexist). */
object MinhashOracleSql {
  import SqlInt64._

  /** The 64 per-position constants mix64(seed + j), exactly as the
    * signature kernel derives them (HashImpl.minhashText). */
  private def kjValues(k: Int, seed: Long): String =
    (0 until k).map(j => s"($j, CAST(${u(HashImpl.mix64(seed + j))} AS HUGEINT))")
      .mkString(", ")

  private val bandFold =
    s"list_reduce(list_prepend(xor(CAST($FnvOff AS HUGEINT), CAST(band AS HUGEINT)), sigu), " +
      s"(acc, u) -> ${mulmod("xor(acc, u)", FnvPrime)})"

  /** Shared CTE chain: tokens → w=2 shingles (1-token docs emit the
    * whole-doc shingle, matching the kernel) → FNV+mix64 base hash →
    * k-position signature (min over shingles, SIGNED compare) → band keys
    * (FNV fold over k/bands-position row-groups). */
  private def sigCtes(k: Int, bands: Int, seed: Long,
                      docsRel: String = "documents"): String = {
    val rows = k / bands
    s"""toks AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk FROM $docsRel),
sh0 AS (SELECT doc_id, tk, unnest(range(1, greatest(len(tk), 2))) AS i FROM toks WHERE len(tk) >= 1),
sh AS (SELECT DISTINCT doc_id, CASE WHEN len(tk) >= 2 THEN tk[i] || ' ' || tk[i+1] ELSE tk[1] END AS s FROM sh0),
h0 AS (SELECT doc_id, ${fnvFoldChars("s")} AS hraw FROM sh),
${mixCtes("hb", "h0", "hraw", "base", "doc_id")},
ks(j, kj) AS (VALUES ${kjValues(k, seed)}),
v0 AS (SELECT doc_id, j, xor(base, kj) AS x0 FROM hb CROSS JOIN ks),
${mixCtes("vv", "v0", "x0", "vh", "doc_id, j")},
sig AS (SELECT doc_id, j, min(${signedH("vh")}) AS sv FROM vv GROUP BY doc_id, j),
sgl AS (SELECT doc_id, list(sv ORDER BY j) AS sigl FROM sig GROUP BY doc_id),
bnd0 AS (SELECT doc_id, band, list_transform(sigl[band*$rows + 1 : band*$rows + $rows], v -> ${unsigned("v")}) AS sigu FROM sgl CROSS JOIN (SELECT unnest(range(0, $bands)) AS band)),
b0 AS (SELECT doc_id, band, $bandFold AS braw FROM bnd0),
${mixCtes("bb", "b0", "braw", "bh", "doc_id, band")},
bk AS (SELECT doc_id, band, ${signedB("bh")} AS band_key FROM bb)"""
  }

  /** Self-join candidate pairs + signature-agreement estimate over the
    * [[sigCtes]] relations (the q_dedup_minhash pipeline shape). */
  private def selfEstCtes(k: Int): String =
    s"""cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
est AS (SELECT doc_a, doc_b, round(sum(CASE WHEN sa.sv = sb.sv THEN 1 ELSE 0 END) / $k.0, 6) AS est_jaccard FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b AND sa.j = sb.j GROUP BY doc_a, doc_b)"""

  /** Oracle for q_dedup_minhash ([[graft.operators.Dedup.minhashCandidates]]
    * defaults: w=2, k=64, bands=16, minEstJaccard=0.2). */
  def minhashCandidates(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                        minEst: Double = 0.2): String =
    s"WITH ${sigCtes(k, bands, seed)}, ${selfEstCtes(k)} " +
      s"SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= $minEst " +
      "ORDER BY doc_a, doc_b"

  /** Oracle for q_containment ([[graft.operators.Dedup.containmentPairs]]
    * defaults: candidates at est ≥ 0.1, containment = n_common/min-size
    * ≥ 0.5 over w=2 shingles). */
  def containmentPairs(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                       minEst: Double = 0.1, minCont: Double = 0.5): String =
    s"WITH ${sigCtes(k, bands, seed)}, ${selfEstCtes(k)}, " +
      s"cpairs AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= $minEst), " +
      "ssz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common FROM cpairs c " +
      "JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s " +
      "GROUP BY c.doc_a, c.doc_b) " +
      "SELECT i.doc_a, i.doc_b, i.n_common, round(i.n_common / least(sa.sz, sb.sz), 6) AS containment " +
      "FROM inter i JOIN ssz sa ON sa.doc_id = i.doc_a JOIN ssz sb ON sb.doc_id = i.doc_b " +
      s"WHERE i.n_common / least(sa.sz, sb.sz) >= $minCont ORDER BY i.doc_a, i.doc_b"

  /** Oracle for q_minhash_srcsim
    * ([[graft.operators.Dedup.sourceSignatureSimilarity]] defaults):
    * per-source elementwise-min merge of the doc signatures from
    * [[sigCtes]]'s `sig`, then pairwise position-agreement. */
  def sourceSimilarity(k: Int = 64, bands: Int = 16, seed: Long = 42L): String =
    s"WITH ${sigCtes(k, bands, seed)}, " +
      "msig AS (SELECT d.source, s.j, min(s.sv) AS sv FROM sig s " +
      "JOIN documents d USING (doc_id) GROUP BY d.source, s.j) " +
      "SELECT a.source AS source_a, b.source AS source_b, " +
      s"round(sum(CASE WHEN a.sv = b.sv THEN 1 ELSE 0 END) / $k.0, 6) AS est_union_jaccard " +
      "FROM msig a JOIN msig b ON a.j = b.j AND a.source < b.source " +
      "GROUP BY 1, 2 ORDER BY source_a, source_b"

  /** Shared CTE chain ending in `vpairs(doc_a, doc_b, jac)` — the
    * LSH-candidate → exact-shingle-Jaccard-verified pair set both
    * [[lshVerifiedPairs]] and [[nearDupRates]] read. */
  private def verifiedCtes(k: Int, bands: Int, seed: Long,
                           minEst: Double, minJaccard: Double): String =
    s"""${sigCtes(k, bands, seed)}, ${selfEstCtes(k)},
ssz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
cpairs AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= $minEst),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common FROM cpairs c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s GROUP BY c.doc_a, c.doc_b),
vpairs AS (SELECT doc_a, doc_b, n_common / (sa.sz + sb.sz - n_common) AS jac FROM inter JOIN ssz sa ON sa.doc_id = doc_a JOIN ssz sb ON sb.doc_id = doc_b WHERE n_common / (sa.sz + sb.sz - n_common) >= $minJaccard)"""

  /** Oracle for q_dedup_lsh_verified
    * ([[graft.operators.Dedup.lshVerifiedPairs]] defaults: candidates at
    * est ≥ 0.2, exact w=2-shingle Jaccard ≥ 0.5 on candidates only). */
  def lshVerifiedPairs(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                       minEst: Double = 0.2, minJaccard: Double = 0.5): String =
    s"""WITH ${verifiedCtes(k, bands, seed, minEst, minJaccard)}
SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM vpairs ORDER BY doc_a, doc_b"""

  /** Oracle for q_minhash_bbit ([[graft.operators.Dedup.bbitMinhashAudit]]):
    * the verified-pairs chain plus full-width and parity-bit signature
    * agreements over the SAME sig relation — estimates are exact 64ths,
    * the 1-bit correction 2·A−1 and the error columns derive from the
    * rounded emitted values, exactly as the engine computes them. */
  def bbitAudit(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                minEst: Double = 0.2, minJaccard: Double = 0.5): String =
    s"""WITH ${verifiedCtes(k, bands, seed, minEst, minJaccard)},
agr AS (SELECT v.doc_a, v.doc_b, round(v.jac, 6) AS jaccard,
round(sum(CASE WHEN sa.sv = sb.sv THEN 1 ELSE 0 END) / $k.0, 6) AS est_full,
round(2.0 * (sum(CASE WHEN ((sa.sv % 2) + 2) % 2 = ((sb.sv % 2) + 2) % 2 THEN 1 ELSE 0 END) / $k.0) - 1.0, 6) AS est_1bit
FROM vpairs v JOIN sig sa ON sa.doc_id = v.doc_a JOIN sig sb ON sb.doc_id = v.doc_b AND sa.j = sb.j
GROUP BY v.doc_a, v.doc_b, v.jac)
SELECT doc_a, doc_b, jaccard, est_full, est_1bit,
round(abs(est_full - jaccard), 6) AS err_full,
round(abs(est_1bit - jaccard), 6) AS err_1bit
FROM agr ORDER BY doc_a, doc_b"""

  /** Oracle for q_lsh_recall ([[graft.operators.Dedup.lshRecallReport]]):
    * raw band-collision candidates (no estimate threshold) vs the exact
    * all-pairs shingle-Jaccard ≥ minJaccard truth, intersected; counts and
    * the recall/precision ratios with the engine's zero-guards. */
  def lshRecall(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                minJaccard: Double = 0.5,
                samplePct: Option[Int] = None): String = {
    // the sampled variant replays the engine's deterministic document
    // sample — pmod(xxhash64(doc_id), 100) < pct via the shared xxhash64
    // CTE chain — then runs the identical recall pipeline over it
    val (samplePrefix, docsRel) = samplePct match {
      case None => ("", "documents")
      case Some(p) =>
        (s"""src AS (SELECT doc_id, text FROM documents),
${KernelOracleSql.xxhCtes(42L)},
dsamp AS MATERIALIZED (SELECT doc_id, text FROM xx WHERE (((${signedB("xxh")}) % 100) + 100) % 100 < $p),
""", "dsamp")
    }
    s"""WITH $samplePrefix${sigCtes(k, bands, seed, docsRel)},
cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
ssz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
truth AS MATERIALIZED (SELECT doc_a, doc_b FROM inter JOIN ssz sa ON sa.doc_id = doc_a JOIN ssz sb ON sb.doc_id = doc_b WHERE n_common / (sa.sz + sb.sz - n_common) >= $minJaccard),
hit AS (SELECT t.doc_a, t.doc_b FROM truth t JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
counts AS (SELECT (SELECT count(*) FROM truth) AS n_true, (SELECT count(*) FROM cand) AS n_candidates, (SELECT count(*) FROM hit) AS n_hit)
SELECT n_true, n_candidates, n_hit,
CASE WHEN n_true > 0 THEN round(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall,
CASE WHEN n_candidates > 0 THEN round(CAST(n_hit AS DOUBLE) / n_candidates, 6) END AS precision
FROM counts"""
  }

  /** Oracle for q_dedup_rates ([[graft.operators.Dedup.nearDupRates]]):
    * the verified pair set labeled with each side's source, pair order
    * normalized (least/greatest) so (a,b) and (b,a) collapse, counted per
    * source pair. */
  def nearDupRates(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                   minEst: Double = 0.2, minJaccard: Double = 0.5): String =
    s"""WITH ${verifiedCtes(k, bands, seed, minEst, minJaccard)},
lab AS (SELECT least(da.source, db.source) AS source_a, greatest(da.source, db.source) AS source_b FROM vpairs v JOIN documents da ON da.doc_id = v.doc_a JOIN documents db ON db.doc_id = v.doc_b)
SELECT source_a, source_b, count(*) AS n_pairs FROM lab GROUP BY source_a, source_b ORDER BY source_a, source_b"""

  /** Oracle for q_dedup_incremental AND q_dedup_indexed (spec-asserted
    * result-equal; both default w=2, k=64, bands=16, est ≥ 0.5, exact
    * verify ≥ 0.5; batch = doc_id ≥ `batchFrom`, corpus = the rest): the
    * full daily-ingest pipeline — in-batch exact dedup, cross exact
    * anti-join, IN-BATCH near-dup pass (band self-join + exact verify;
    * the larger id of a verified in-batch pair drops), batch-bounded
    * band-collision candidates vs the corpus, signature estimate, exact
    * shingle-Jaccard verify — re-derived over the same signature
    * relations. */
  def incrementalSurvivors(batchFrom: Long = 400L, k: Int = 64, bands: Int = 16,
                           seed: Long = 42L, minEst: Double = 0.5,
                           minJaccard: Double = 0.5): String =
    s"""WITH ${sigCtes(k, bands, seed)},
fpb AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
bex AS (SELECT fp, min(doc_id) AS doc_id FROM fpb WHERE doc_id >= $batchFrom GROUP BY fp),
cx AS (SELECT b.doc_id FROM bex b WHERE NOT EXISTS (SELECT 1 FROM fpb c WHERE c.doc_id < $batchFrom AND c.fp = b.fp)),
ssz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
bcand AS (SELECT DISTINCT a.doc_id, b.doc_id AS corp_id FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id > b.doc_id WHERE a.doc_id IN (SELECT doc_id FROM cx) AND b.doc_id IN (SELECT doc_id FROM cx)),
best AS (SELECT c.doc_id, c.corp_id, sum(CASE WHEN sa.sv = sb.sv THEN 1 ELSE 0 END) / $k.0 AS est FROM bcand c JOIN sig sa ON sa.doc_id = c.doc_id JOIN sig sb ON sb.doc_id = c.corp_id AND sa.j = sb.j GROUP BY c.doc_id, c.corp_id),
bpairs AS (SELECT doc_id, corp_id FROM best WHERE est >= $minEst),
binter AS (SELECT c.doc_id, c.corp_id, count(*) AS n_common FROM bpairs c JOIN sh a ON a.doc_id = c.doc_id JOIN sh b ON b.doc_id = c.corp_id AND a.s = b.s GROUP BY c.doc_id, c.corp_id),
bver AS (SELECT DISTINCT i.doc_id FROM binter i JOIN ssz sa ON sa.doc_id = i.doc_id JOIN ssz sb ON sb.doc_id = i.corp_id WHERE i.n_common / (sa.sz + sb.sz - i.n_common) >= $minJaccard),
cand AS (SELECT DISTINCT n.doc_id, o.doc_id AS corp_id FROM bk n JOIN bk o ON n.band = o.band AND n.band_key = o.band_key WHERE n.doc_id IN (SELECT doc_id FROM cx) AND o.doc_id < $batchFrom),
cest AS (SELECT c.doc_id, c.corp_id, sum(CASE WHEN sa.sv = sb.sv THEN 1 ELSE 0 END) / $k.0 AS est FROM cand c JOIN sig sa ON sa.doc_id = c.doc_id JOIN sig sb ON sb.doc_id = c.corp_id AND sa.j = sb.j GROUP BY c.doc_id, c.corp_id),
cpairs AS (SELECT doc_id, corp_id FROM cest WHERE est >= $minEst),
inter AS (SELECT c.doc_id, c.corp_id, count(*) AS n_common FROM cpairs c JOIN sh a ON a.doc_id = c.doc_id JOIN sh b ON b.doc_id = c.corp_id AND a.s = b.s GROUP BY c.doc_id, c.corp_id),
ver AS (SELECT DISTINCT i.doc_id FROM inter i JOIN ssz sa ON sa.doc_id = i.doc_id JOIN ssz sb ON sb.doc_id = i.corp_id WHERE i.n_common / (sa.sz + sb.sz - i.n_common) >= $minJaccard)
SELECT d.doc_id, d.lang, d.source FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM cx) AND d.doc_id NOT IN (SELECT doc_id FROM ver) AND d.doc_id NOT IN (SELECT doc_id FROM bver) ORDER BY d.doc_id"""

  /** Shared CTE chain for the component queries — candidate pairs at
    * `minEst` → recursive-CTE connected components → `grp(doc_id,
    * group_id)` with min-id canonicals and singletons kept. */
  private def groupsCtes(k: Int, minEst: Double): String =
    s"""${selfEstCtes(k)},
e AS MATERIALIZED (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= $minEst),
eb AS MATERIALIZED (SELECT doc_a AS an, doc_b AS bn FROM e UNION ALL SELECT doc_b, doc_a FROM e),
r(n, m) AS (SELECT an, an FROM eb UNION SELECT eb.bn, r.m FROM r JOIN eb ON eb.an = r.n),
comp AS (SELECT n AS doc_id, min(m) AS gid FROM r GROUP BY n),
grp AS (SELECT d.doc_id, coalesce(comp.gid, d.doc_id) AS group_id FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id)"""

  /** Oracle for q_dedup_groups ([[graft.operators.Dedup.nearDupGroups]]
    * defaults: candidate pairs at est ≥ 0.5 → connected components → min
    * doc_id per component, singletons keep their own id). Components run
    * as a recursive CTE propagating every reachable id and taking the min
    * — rows are bounded by Σ component-size², and near-dup components are
    * small by construction. */
  def nearDupGroups(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                    minEst: Double = 0.5): String =
    s"""WITH RECURSIVE ${sigCtes(k, bands, seed)}, ${groupsCtes(k, minEst)}
SELECT doc_id, group_id FROM grp ORDER BY doc_id"""

  /** Oracle for q_split_groupsafe
    * ([[graft.operators.Sampling.groupSafeSplits]]): the
    * [[nearDupGroups]] components, the split bucket hashed from the
    * GROUP id through the shared xxhash64 chain (the q_split_assign
    * arithmetic applied to group ids), per-split doc/group counts, and
    * the cross-split candidate-pair count RE-DERIVED (zero by
    * construction — the oracle proves it rather than trusting it). */
  def groupSafeSplits(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                      minEst: Double = 0.5): String =
    s"""WITH RECURSIVE ${sigCtes(k, bands, seed)}, ${groupsCtes(k, minEst)},
src AS (SELECT DISTINCT group_id AS doc_id FROM grp),
${KernelOracleSql.xxhCtes(42L)},
gb AS (SELECT doc_id AS group_id, CASE WHEN (((${signedB("xxh")}) % 100) + 100) % 100 < 90 THEN 'train' WHEN (((${signedB("xxh")}) % 100) + 100) % 100 < 95 THEN 'val' ELSE 'test' END AS split FROM xx),
asg AS MATERIALIZED (SELECT g.doc_id, g.group_id, gb.split FROM grp g JOIN gb USING (group_id)),
leak AS (SELECT count(*) AS n FROM e JOIN asg a ON a.doc_id = e.doc_a JOIN asg b ON b.doc_id = e.doc_b WHERE a.split <> b.split)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs, CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups, CAST((SELECT n FROM leak) AS BIGINT) AS n_leaked_pairs FROM asg GROUP BY split ORDER BY split"""

  /** Oracle for q_dedup_keep_best
    * ([[graft.operators.Dedup.clusterRepresentatives]]): the
    * [[nearDupGroups]] components, each cluster reduced to its longest
    * member (doc_id tiebreak) — per-group max n_chars, then min doc_id
    * among the maxima, exactly the engine's two-aggregation argmax. */
  def clusterRepresentatives(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                             minEst: Double = 0.5): String =
    s"""WITH RECURSIVE ${sigCtes(k, bands, seed)}, ${groupsCtes(k, minEst)},
sized AS (SELECT g.doc_id, g.group_id, d.n_chars FROM grp g JOIN documents d ON g.doc_id = d.doc_id),
best AS (SELECT group_id, CAST(count(*) AS BIGINT) AS n_members, max(n_chars) AS best_chars FROM sized GROUP BY group_id)
SELECT s.group_id, min(s.doc_id) AS kept_doc, b.n_members, CAST(b.best_chars AS BIGINT) AS kept_chars
FROM sized s JOIN best b ON s.group_id = b.group_id
WHERE s.n_chars = b.best_chars
GROUP BY s.group_id, b.n_members, b.best_chars ORDER BY s.group_id"""

  /** Oracle for q_dedup_cluster_sizes
    * ([[graft.operators.Dedup.dedupClusterSizes]]): the [[nearDupGroups]]
    * components folded to a (cluster_size, n_clusters) histogram,
    * singletons included. */
  def dedupClusterSizes(k: Int = 64, bands: Int = 16, seed: Long = 42L,
                        minEst: Double = 0.5): String =
    s"""WITH RECURSIVE ${sigCtes(k, bands, seed)}, ${groupsCtes(k, minEst)},
cs AS (SELECT group_id, count(*) AS cluster_size FROM grp GROUP BY group_id)
SELECT cluster_size, count(*) AS n_clusters FROM cs GROUP BY cluster_size ORDER BY cluster_size"""

  /** Oracle for q_text_simsearch ([[graft.operators.Dedup.textSimSearch]]):
    * query band rows (doc_id < nQueries) equi-joined to the corpus band
    * rows, per-pair signature-agreement estimate, per-query top-k with the
    * engine's (est DESC, neighbor ASC) tie-break. Agreement is m/k with
    * k a power of two — dyadic, so the rank order is engine-exact. */
  def textSimSearch(nQueries: Long = 10, topK: Int = 5, k: Int = 64,
                    bands: Int = 16, seed: Long = 42L): String =
    s"""WITH ${sigCtes(k, bands, seed)},
qb AS (SELECT doc_id AS query_id, band, band_key FROM bk WHERE doc_id < $nQueries),
cp AS (SELECT DISTINCT q.query_id, c.doc_id AS neighbor_id FROM qb q JOIN bk c ON c.band = q.band AND c.band_key = q.band_key AND c.doc_id <> q.query_id),
agr AS (SELECT cp.query_id, cp.neighbor_id, round(sum(CASE WHEN sa.sv = sb.sv THEN 1 ELSE 0 END) / $k.0, 6) AS est_jaccard FROM cp JOIN sig sa ON sa.doc_id = cp.query_id JOIN sig sb ON sb.doc_id = cp.neighbor_id AND sa.j = sb.j GROUP BY cp.query_id, cp.neighbor_id),
rk AS (SELECT query_id, neighbor_id, est_jaccard, row_number() OVER (PARTITION BY query_id ORDER BY est_jaccard DESC, neighbor_id ASC) AS rn FROM agr)
SELECT query_id, neighbor_id, est_jaccard FROM rk WHERE rn <= $topK ORDER BY query_id, neighbor_id"""
}

/** DuckDB oracle SQL for the signed-random-projection (SRP) LSH queries:
  * embedding near-dup pairs, their transitive groups, and multiprobe ANN
  * top-k. The ±1 hyperplane signs are seed-derived constants
  * (mix64(tbl·φ + b·131071 + j) & 1 — [[graft.functions.HashImpl.srpBucket]])
  * embedded as 64-bit sign masks per (table, bit); dot products and
  * norms fold SEQUENTIALLY over the double-cast floats (list_reduce) so
  * every accumulated double is bit-identical to the engine's scalar
  * kernels, and bucket bits / cosine thresholds compare the exact same
  * values on both sides. */
object SrpOracleSql {
  import graft.functions.HashImpl

  /** Unsigned 64-bit sign mask for (table, hyperplane-bit): bit j set iff
    * the kernel's sign for dimension j is +1. */
  private def signMask(tbl: Int, b: Int, dims: Int = 64): String = {
    val seed = tbl.toLong * 0x9e3779b97f4a7c15L
    var m = BigInt(0)
    var j = 0
    while (j < dims) {
      if ((HashImpl.mix64(seed + b.toLong * 131071L + j) & 1L) == 1L)
        m = m.setBit(j)
      j += 1
    }
    m.toString
  }

  private def maskRows(nTables: Int, nBits: Int): String =
    (for { t <- 0 until nTables; b <- 0 until nBits }
      yield s"($t, $b, CAST(${signMask(t, b)} AS HUGEINT))").mkString(", ")

  /** Shared CTEs: double view, sign masks, per-(vec, table, bit)
    * sequential signed sums, 2^nBits buckets, per-vector norms. */
  private def srpCtes(nBits: Int, nTables: Int): String =
    s"""d AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
msk(tbl, b, m) AS (VALUES ${maskRows(nTables, nBits)}),
accs AS (SELECT vec_id, tbl, b, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, (x, i) -> CASE WHEN (m >> (i - 1)) % 2 = 1 THEN x ELSE -x END)), (a, bb) -> a + bb) AS acc FROM d CROSS JOIN msk),
bkt AS MATERIALIZED (SELECT vec_id, tbl, sum(CASE WHEN acc > 0.0 THEN (1 << b) ELSE 0 END) AS bucket FROM accs GROUP BY vec_id, tbl),
norms AS MATERIALIZED (SELECT vec_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> x * x)), (a, bb) -> a + bb) AS nrm FROM d)"""

  /** Oracle for q_embed_rp
    * ([[graft.operators.Similarity.randomProjectionReport]] defaults:
    * nBits 16, table 7): sign masks for the single projection table, the
    * per-(vec, b) sequential signed fold, a b-ORDERED square sum for the
    * projected norm, and the sequential input norm — every accumulation
    * mirrors the engine kernels' loop order. */
  def rpReport(nBits: Int = 16, table: Int = 7): String = {
    val masks = (0 until nBits)
      .map(b => s"($b, CAST(${signMask(table, b)} AS HUGEINT))").mkString(", ")
    s"""WITH d AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
msk(b, m) AS (VALUES $masks),
accs AS (SELECT vec_id, b, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, (x, i) -> CASE WHEN (m >> (i - 1)) % 2 = 1 THEN x ELSE -x END)), (a, bb) -> a + bb) AS acc FROM d CROSS JOIN msk),
po AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list(acc ORDER BY b), a -> a * a)), (x, y) -> x + y) / $nBits) AS norm_out FROM accs GROUP BY vec_id),
ni AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> x * x)), (a, bb) -> a + bb)) AS norm_in FROM d)
SELECT ni.vec_id, round(norm_in, 6) AS norm_in, round(norm_out, 6) AS norm_out,
CASE WHEN norm_in = 0.0 THEN 0.0 ELSE round(norm_out / norm_in, 6) END AS jl_ratio
FROM ni JOIN po ON po.vec_id = ni.vec_id ORDER BY ni.vec_id"""
  }

  /** Sequential-fold cosine over candidate pairs (aliases da/db/na/nb). */
  private val pairCosine =
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(da.v, (x, i) -> x * db.v[i])), (a, bb) -> a + bb)"

  /** Oracle for q_embed_neardup
    * ([[graft.operators.Similarity.embeddingNearDups]] defaults:
    * minCosine 0.35, nBits 4, nTables 8). */
  def embedNearDups(minCosine: Double = 0.35, nBits: Int = 4,
                    nTables: Int = 8): String =
    s"""WITH ${srpCtes(nBits, nTables)},
cpair AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
sc AS (SELECT p.vec_a, p.vec_b, $pairCosine AS dot, na.nrm AS na, nb.nrm AS nb FROM cpair p JOIN d da ON da.vec_id = p.vec_a JOIN d db ON db.vec_id = p.vec_b JOIN norms na ON na.vec_id = p.vec_a JOIN norms nb ON nb.vec_id = p.vec_b),
cosed AS (SELECT vec_a, vec_b, CASE WHEN sqrt(na) * sqrt(nb) = 0.0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos FROM sc)
SELECT vec_a, vec_b, round(max(cos), 6) AS cosine FROM cosed WHERE cos >= $minCosine GROUP BY vec_a, vec_b ORDER BY vec_a, vec_b"""

  /** Shared CTE chain for the component queries: SRP buckets → candidate
    * pairs → cosine-verified edges → recursive-CTE connected components
    * (`comp(vec_id, gid)`, min-id canonical; singletons absent). */
  private def compCtes(minCosine: Double, nBits: Int, nTables: Int): String =
    s"""${srpCtes(nBits, nTables)},
cpair AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
sc AS (SELECT p.vec_a, p.vec_b, $pairCosine AS dot, na.nrm AS na, nb.nrm AS nb FROM cpair p JOIN d da ON da.vec_id = p.vec_a JOIN d db ON db.vec_id = p.vec_b JOIN norms na ON na.vec_id = p.vec_a JOIN norms nb ON nb.vec_id = p.vec_b),
e AS MATERIALIZED (SELECT vec_a, vec_b FROM sc WHERE (CASE WHEN sqrt(na) * sqrt(nb) = 0.0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END) >= $minCosine),
eb AS MATERIALIZED (SELECT vec_a AS an, vec_b AS bn FROM e UNION ALL SELECT vec_b, vec_a FROM e),
r(n, m) AS (SELECT an, an FROM eb UNION SELECT eb.bn, r.m FROM r JOIN eb ON eb.an = r.n),
comp AS (SELECT n AS vec_id, min(m) AS gid FROM r GROUP BY n)"""

  /** Oracle for q_embed_groups
    * ([[graft.operators.Similarity.embeddingNearDupGroups]]): the near-dup
    * pairs above → recursive-CTE connected components → min vec_id per
    * component, singletons keep their own id. */
  def embedGroups(minCosine: Double = 0.35, nBits: Int = 4,
                  nTables: Int = 8): String =
    s"""WITH RECURSIVE ${compCtes(minCosine, nBits, nTables)}
SELECT emb.vec_id, coalesce(comp.gid, emb.vec_id) AS group_id FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.vec_id ORDER BY emb.vec_id"""

  /** Oracle for q_dedup_semantic
    * ([[graft.operators.Similarity.semanticDedup]]): the component
    * canonicals only — rows whose group id is their own vec_id — with the
    * vector's label. */
  def semanticSurvivors(minCosine: Double = 0.35, nBits: Int = 4,
                        nTables: Int = 8): String =
    s"""WITH RECURSIVE ${compCtes(minCosine, nBits, nTables)}
SELECT emb.vec_id, emb.label FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.vec_id WHERE coalesce(comp.gid, emb.vec_id) = emb.vec_id ORDER BY emb.vec_id"""

  /** Shared CTE chain ending in `ranked(query_id, neighbor_id, cos, rn)` —
    * the multiprobe LSH neighbor ranking both [[annLsh]] and
    * [[knnClassifyLsh]] read. */
  private def annLshCtes(nQueries: Int, nBits: Int, nTables: Int,
                         probeHamming: Int): String = {
    val probeRows = graft.operators.Similarity.hammingMasks(nBits, probeHamming)
      .map(m => s"($m)").mkString(", ")
    s"""${srpCtes(nBits, nTables)},
pm(pmask) AS (VALUES $probeRows),
qb AS (SELECT vec_id AS query_id, tbl, xor(bucket, pmask) AS bucket FROM bkt CROSS JOIN pm WHERE vec_id < $nQueries),
cpair AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id FROM qb q JOIN bkt c ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.query_id),
sc AS (SELECT p.query_id, p.neighbor_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(da.v, (x, i) -> x * db.v[i])), (a, bb) -> a + bb) AS dot, na.nrm AS na, nb.nrm AS nb FROM cpair p JOIN d da ON da.vec_id = p.query_id JOIN d db ON db.vec_id = p.neighbor_id JOIN norms na ON na.vec_id = p.query_id JOIN norms nb ON nb.vec_id = p.neighbor_id),
cosed AS (SELECT query_id, neighbor_id, CASE WHEN sqrt(na) * sqrt(nb) = 0.0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos FROM sc),
ranked AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn FROM cosed)"""
  }

  /** Oracle for q_ann_lsh ([[graft.operators.Similarity.lshTopK]] defaults:
    * 10 queries, k=5, nBits=12, nTables=8, probeHamming=3): the query side
    * probes every bucket within Hamming distance ≤ h (mask list generated
    * with the operator's own [[graft.operators.Similarity.hammingMasks]]),
    * candidates rank by the same sequential-fold cosine. */
  def annLsh(nQueries: Int = 10, topK: Int = 5, nBits: Int = 12,
             nTables: Int = 8, probeHamming: Int = 3): String =
    s"""WITH ${annLshCtes(nQueries, nBits, nTables, probeHamming)}
SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM ranked WHERE rn <= $topK ORDER BY query_id, neighbor_id"""

  /** Oracle for q_knn_lsh
    * ([[graft.operators.Similarity.knnClassifyLsh]]): the [[annLsh]]
    * multiprobe neighbor ranking, then the same majority vote as the
    * exact-kNN oracle with the engine's (votes DESC, label ASC)
    * tie-break. */
  def knnClassifyLsh(nQueries: Int = 10, topK: Int = 5, nBits: Int = 12,
                     nTables: Int = 8, probeHamming: Int = 3): String =
    s"""WITH ${annLshCtes(nQueries, nBits, nTables, probeHamming)},
nb AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= $topK),
votes AS (SELECT nb.query_id, e.label AS pred_label, count(*) AS votes FROM nb JOIN embeddings e ON e.vec_id = nb.neighbor_id GROUP BY 1, 2),
vranked AS (SELECT query_id, pred_label, votes, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, pred_label ASC) AS rn FROM votes)
SELECT query_id, pred_label, votes FROM vranked WHERE rn = 1 ORDER BY query_id"""

  /** Oracle for q_knn_classify
    * ([[graft.operators.Similarity.knnClassify]]): the q_ann_topk
    * brute-force neighbor ranking (DuckDB's native cosine — the ranked
    * set is already proven hash-equal to the engine's kernel by
    * q_ann_topk), then a majority vote over the neighbors' labels with
    * the engine's (votes DESC, label ASC) tie-break. */
  def knnClassify(nQueries: Int = 10, topK: Int = 5): String =
    s"""WITH nb AS (SELECT query_id, neighbor_id FROM (
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rn
FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id WHERE q.vec_id < $nQueries) WHERE rn <= $topK),
votes AS (SELECT nb.query_id, e.label AS pred_label, count(*) AS votes FROM nb JOIN embeddings e ON e.vec_id = nb.neighbor_id GROUP BY 1, 2),
ranked AS (SELECT query_id, pred_label, votes, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, pred_label ASC) AS rn FROM votes)
SELECT query_id, pred_label, votes FROM ranked WHERE rn = 1 ORDER BY query_id"""
}

/** DuckDB oracle SQL for the remaining hash-kernel queries: SimHash
  * fingerprints, Karp–Rabin rolling-hash fingerprints, and the two
  * xxHash64-membership operators (split assignment, source mixture).
  * Same arithmetic machinery as [[MinhashOracleSql]]; xxHash64 of one
  * 8-byte block (Spark's `xxhash64(bigint)`, seed 42) is the standard
  * public algorithm — single round + avalanche, ~12 staged ops. */
object KernelOracleSql {
  import SqlInt64._

  /** Oracle for q_dedup_simhash ([[graft.operators.Dedup.simhashFingerprints]]):
    * per-token FNV-1a + mix64, ±1 votes per bit position over the token
    * MULTISET (no dedup), sign of each vote is the fingerprint bit.
    * Docs with no tokens get simhash 0 (all votes are -1 ties). */
  private def simhashCtes: String =
    s"""tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token FROM documents),
h0 AS (SELECT doc_id, ${fnvFoldChars("token")} AS hraw FROM tok),
${mixCtes("hh", "h0", "hraw", "h", "doc_id")},
bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS vote FROM hh CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY doc_id, b),
sh AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << b ELSE CAST(0 AS HUGEINT) END) AS uh FROM bits GROUP BY doc_id)"""

  def simhashFingerprints: String =
    s"""WITH $simhashCtes
SELECT d.doc_id, ${signedB("coalesce(uh, 0)")} AS simhash FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id ORDER BY d.doc_id"""

  /** Oracle for q_simhash_hamming
    * ([[graft.operators.Dedup.simhashHammingPairs]]): the same simhash
    * derivation, then brute-force all-pairs XOR popcount ≤ maxHamming —
    * legitimate as the oracle because the engine's pigeonhole banding is
    * EXACT for Hamming ≤ (blocks − 1): both formulations define the same
    * pair set, and the hash match proves the banded join loses nothing. */
  def simhashHammingPairs(maxHamming: Int = 3): String =
    s"""WITH $simhashCtes,
fp AS MATERIALIZED (SELECT d.doc_id, ${signedB("coalesce(uh, 0)")} AS simhash FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON b.doc_id > a.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
ORDER BY doc_a, doc_b"""

  /** Oracle for q_text_fingerprint ([[graft.operators.TextAnalysis.fingerprints]]):
    * Karp–Rabin fold h = h·1000003 + char over the normalized text's code
    * points, splitmix64-finalized. */
  def rollingFingerprints: String = {
    val fold = krFoldChars("lower(trim(text))")
    s"""WITH h0 AS (SELECT doc_id, $fold AS hraw FROM documents),
${mixCtes("hh", "h0", "hraw", "h", "doc_id")}
SELECT doc_id, ${signedB("h")} AS fingerprint FROM hh ORDER BY doc_id"""
  }

  /** Oracle for q_feature_hash ([[graft.operators.TextAnalysis
    * .featureHashAudit]]): per-token Karp–Rabin+mix64 hashes (the
    * rollingFingerprints chain applied to tokens), per-dim distinct-dim
    * counts, and exact-vs-hashed pair cosines — every cosine is integer
    * dot / sqrt(integer norms), so no summation-order sensitivity. */
  def featureHashAudit(dims: Seq[Int] = Seq(64, 256, 1024),
                       nPairs: Int = 5): String = {
    val fold = krFoldChars("token")
    def pairCtes(tag: String, keyExpr: String): String =
      s"""c$tag AS (SELECT doc_id, $keyExpr AS key, count(*) AS c FROM smp GROUP BY 1, 2),
n$tag AS (SELECT doc_id, sum(c * c) AS n2 FROM c$tag GROUP BY 1),
d$tag AS (SELECT a.doc_id AS pair, sum(a.c * b.c) AS dot FROM c$tag a JOIN c$tag b ON b.doc_id = a.doc_id + $nPairs AND b.key = a.key WHERE a.doc_id < $nPairs GROUP BY 1),
e$tag AS (SELECT na.doc_id AS pair, CAST(coalesce(d.dot, 0) AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cos FROM n$tag na JOIN n$tag nb ON nb.doc_id = na.doc_id + $nPairs LEFT JOIN d$tag d ON d.pair = na.doc_id WHERE na.doc_id < $nPairs)"""
    val dimArms = dims.map { d =>
      val key = s"((h % $d) + $d) % $d"
      s"""u$d AS (SELECT count(DISTINCT $key) AS n_dims_used FROM th),
${pairCtes(s"h$d", key)},
r$d AS (SELECT $d AS dim, v.n_vocab, u.n_dims_used,
round(1.0 - CAST(u.n_dims_used AS DOUBLE) / least(v.n_vocab, $d), 6) AS collision_frac,
round((SELECT max(abs(e.cos - x.cos)) FROM ex e JOIN eh$d x USING (pair)), 6) AS max_abs_cos_err
FROM voc v CROSS JOIN u$d u)"""
    }.mkString(",\n")
    val out = dims.map(d => s"SELECT * FROM r$d").mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token FROM documents),
t0 AS (SELECT doc_id, token, $fold AS hraw FROM toks),
${mixCtes("tm", "t0", "hraw", "hu", "doc_id, token")},
th AS MATERIALIZED (SELECT doc_id, token, ${signedB("hu")} AS h FROM tm),
voc AS (SELECT count(DISTINCT token) AS n_vocab FROM th),
smp AS MATERIALIZED (SELECT doc_id, token, h FROM th WHERE doc_id < ${2 * nPairs}),
${pairCtes("x", "token")},
$dimArms
SELECT dim, CAST(n_vocab AS BIGINT) AS n_vocab, CAST(n_dims_used AS BIGINT) AS n_dims_used, collision_frac, max_abs_cos_err FROM ($out) ORDER BY dim"""
  }

  /** Oracle for q_corpus_diff ([[graft.operators.Pipeline.corpusDiff]]):
    * both snapshot sides re-fingerprinted with the rollingFingerprints
    * chain, full-outer joined on doc_id, statuses counted per source.
    * The v1/v2 definitions mirror the query registration exactly:
    * v1 drops doc_id % 11 == 0 (those appear "added" in v2), v2 drops
    * doc_id % 13 == 0 ("removed") and appends ' rev2' to doc_id % 7 == 0
    * ("modified"). */
  def corpusDiff: String = {
    val fold = krFoldChars("lower(trim(text))")
    s"""WITH v1 AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 11 <> 0),
v2 AS (SELECT doc_id, source, CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text FROM documents WHERE doc_id % 13 <> 0),
g1 AS (SELECT doc_id, source, $fold AS hraw FROM v1),
${mixCtes("k1", "g1", "hraw", "h", "doc_id, source")},
f1 AS (SELECT doc_id, source, ${signedB("h")} AS fp FROM k1),
g2 AS (SELECT doc_id, source, $fold AS hraw FROM v2),
${mixCtes("k2", "g2", "hraw", "h", "doc_id, source")},
f2 AS (SELECT doc_id, source, ${signedB("h")} AS fp FROM k2),
j AS (SELECT coalesce(f2.source, f1.source) AS source,
CASE WHEN f1.doc_id IS NULL THEN 'added' WHEN f2.doc_id IS NULL THEN 'removed'
WHEN f1.fp <> f2.fp THEN 'modified' ELSE 'unchanged' END AS st
FROM f1 FULL OUTER JOIN f2 ON f1.doc_id = f2.doc_id)
SELECT source, count(*) FILTER (st = 'added') AS n_added,
count(*) FILTER (st = 'removed') AS n_removed,
count(*) FILTER (st = 'modified') AS n_modified,
count(*) FILTER (st = 'unchanged') AS n_unchanged
FROM j GROUP BY source ORDER BY source"""
  }

  /** Oracle for q_bpe_merges ([[graft.operators.TextAnalysis.bpeMerges]]):
    * the same delimiter-framed symbol-string representation, so each
    * round's greedy left-to-right merge is the SAME `replace` primitive;
    * pair counts from the split symbol lists, argmax with the identical
    * (count desc, pair asc) tie-break, unrolled one CTE trio per round. */
  def bpeMerges(nMerges: Int = 8): String = {
    val d = "chr(31)"
    val rounds = (1 to nMerges).map { r =>
      s"""s$r AS (SELECT freq, list_filter(string_split(seq, $d), x -> x <> '') AS sy FROM v$r),
p$r AS (SELECT sy[i] AS a, sy[i + 1] AS b, sum(freq) AS cnt FROM s$r, unnest(range(1, len(sy))) AS t(i) WHERE len(sy) >= 2 GROUP BY 1, 2),
m$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
v${r + 1} AS MATERIALIZED (SELECT freq, replace(seq, $d || m.a || $d || $d || m.b || $d, $d || m.a || m.b || $d) AS seq FROM v$r CROSS JOIN m$r m)"""
    }.mkString(",\n")
    val out = (1 to nMerges).map(r =>
      s"SELECT $r AS merge_order, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m$r")
      .mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk FROM documents),
wrds AS (SELECT w AS word, count(*) AS freq FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
v1 AS MATERIALIZED (SELECT freq, $d || array_to_string(string_split(word, ''), $d || $d) || $d AS seq FROM wrds),
$rounds
SELECT * FROM ($out) ORDER BY merge_order"""
  }

  /** Oracle for q_bpe_encode ([[graft.operators.TextAnalysis.bpeEncode]]):
    * re-learns the merge table with the EXACT bpeMerges CTEs (same framed
    * representation, same argmax tie-break), then applies the replace
    * chain over the distinct-word vocabulary — v1 keeps the word column
    * this time — and aggregates per document through a word-keyed join,
    * mirroring the engine's vocabulary-encode-then-join shape. */
  def bpeEncode(nMerges: Int = 8): String = {
    val d = "chr(31)"
    val rounds = (1 to nMerges).map { r =>
      s"""s$r AS (SELECT freq, seq FROM v$r),
sy$r AS (SELECT freq, list_filter(string_split(seq, $d), x -> x <> '') AS sy FROM s$r),
p$r AS (SELECT sy[i] AS a, sy[i + 1] AS b, sum(freq) AS cnt FROM sy$r, unnest(range(1, len(sy))) AS t(i) WHERE len(sy) >= 2 GROUP BY 1, 2),
m$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
v${r + 1} AS MATERIALIZED (SELECT word, freq, replace(seq, $d || m.a || $d || $d || m.b || $d, $d || m.a || m.b || $d) AS seq FROM v$r CROSS JOIN m$r m)"""
    }.mkString(",\n")
    s"""WITH toksd AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk FROM documents),
dw AS (SELECT doc_id, unnest(tk) AS word FROM toksd),
wrds AS (SELECT word, count(*) AS freq FROM dw GROUP BY word),
v1 AS MATERIALIZED (SELECT word, freq, $d || array_to_string(string_split(word, ''), $d || $d) || $d AS seq FROM wrds),
$rounds,
enc AS (SELECT word, len(word) AS nch, len(list_filter(string_split(seq, $d), x -> x <> '')) AS nsym FROM v${nMerges + 1})
SELECT dw.doc_id, count(*) AS n_words, CAST(sum(e.nch) AS BIGINT) AS n_chars_presplit, CAST(sum(e.nsym) AS BIGINT) AS n_bpe_tokens,
round(CAST(sum(e.nch) AS DOUBLE) / sum(e.nsym), 6) AS compression
FROM dw JOIN enc e USING (word) GROUP BY dw.doc_id ORDER BY dw.doc_id"""
  }

  /** Oracle for q_tokenizer_fertility: the bpeEncode CTE chain rolled up
    * by language instead of document. */
  def tokenizerFertility(nMerges: Int = 8): String = {
    val perDoc = bpeEncode(nMerges)
    s"""WITH perdoc AS ($perDoc)
SELECT d.lang, count(*) AS n_docs, CAST(sum(p.n_words) AS BIGINT) AS n_words,
CAST(sum(p.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
round(CAST(sum(p.n_bpe_tokens) AS DOUBLE) / sum(p.n_words), 6) AS fertility,
round(CAST(sum(p.n_chars_presplit) AS DOUBLE) / sum(p.n_bpe_tokens), 6) AS compression
FROM perdoc p JOIN documents d USING (doc_id) GROUP BY d.lang ORDER BY d.lang"""
  }

  /** Oracle for q_bpe_bytes ([[graft.operators.TextAnalysis.bpeByteFallback]]):
    * the bpeMerges round CTEs over HEX-BYTE initial symbols
    * (`regexp_extract_all(hex(encode(word)), '..')` — the same primitive
    * the engine uses), trained on the English subcorpus of the
    * suffix-augmented documents, applied as a separate replace chain over
    * the FULL corpus vocabulary; the closed-char-vocab UNK arm filters
    * each word's chars against the trained alphabet list. */
  def bpeByteFallback(nMerges: Int = 8): String = {
    val d = "chr(31)"
    val trainRounds = (1 to nMerges).map { r =>
      s"""s$r AS (SELECT freq, list_filter(string_split(seq, $d), x -> x <> '') AS sy FROM v$r),
p$r AS (SELECT sy[i] AS a, sy[i + 1] AS b, sum(freq) AS cnt FROM s$r, unnest(range(1, len(sy))) AS t(i) WHERE len(sy) >= 2 GROUP BY 1, 2),
m$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
v${r + 1} AS MATERIALIZED (SELECT freq, replace(seq, $d || m.a || $d || $d || m.b || $d, $d || m.a || m.b || $d) AS seq FROM v$r CROSS JOIN m$r m)"""
    }.mkString(",\n")
    val applyRounds = (1 to nMerges).map { r =>
      s"""a${r + 1} AS MATERIALIZED (SELECT word, replace(seq, $d || m.a || $d || $d || m.b || $d, $d || m.a || m.b || $d) AS seq FROM a$r CROSS JOIN m$r m)"""
    }.mkString(",\n")
    s"""WITH docs2 AS (SELECT doc_id, lang, text || CASE WHEN lang <> 'en' THEN ' café 中' ELSE '' END AS text FROM documents),
toksd AS (SELECT doc_id, lang, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk FROM docs2),
dw AS (SELECT doc_id, lang, unnest(tk) AS word FROM toksd),
tw AS (SELECT word, count(*) AS freq FROM dw WHERE lang = 'en' GROUP BY word),
v1 AS MATERIALIZED (SELECT freq, $d || array_to_string(regexp_extract_all(hex(encode(word)), '..'), $d || $d) || $d AS seq FROM tw),
$trainRounds,
alpha AS (SELECT list(DISTINCT c ORDER BY c) AS cs FROM (SELECT unnest(list_filter(string_split(word, ''), c -> c <> '')) AS c FROM tw)),
a1 AS MATERIALIZED (SELECT word, $d || array_to_string(regexp_extract_all(hex(encode(word)), '..'), $d || $d) || $d AS seq FROM (SELECT DISTINCT word FROM dw)),
$applyRounds,
enc AS (SELECT word, octet_length(encode(word)) AS nb, len(list_filter(string_split(seq, $d), x -> x <> '')) AS nsym FROM a${nMerges + 1}),
unk AS (SELECT word, len(list_filter(list_filter(string_split(word, ''), c -> c <> ''), c -> NOT list_contains(cs, c))) > 0 AS is_unk FROM (SELECT DISTINCT word FROM dw) CROSS JOIN alpha)
SELECT dw.lang, count(DISTINCT dw.doc_id) AS n_docs, count(*) AS n_words,
CAST(sum(CASE WHEN u.is_unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words_closed,
CAST(sum(e.nb) AS BIGINT) AS n_bytes, CAST(sum(e.nsym) AS BIGINT) AS n_bpe_tokens,
round(CAST(sum(e.nb) AS DOUBLE) / sum(e.nsym), 6) AS compression
FROM dw JOIN enc e USING (word) JOIN unk u USING (word)
GROUP BY dw.lang ORDER BY dw.lang"""
  }

  /** The winnowing selection chain (tokens → positioned k-shingle
    * Karp–Rabin hashes → window minima → per-doc selected set `sel`),
    * shared by [[winnowFingerprints]] and [[containmentWinnowed]]. Ends
    * in `toks(doc_id, tk)`, `gh(doc_id, n_grams, pos, h)`, and
    * `sel(doc_id, mh)`. */
  private def winnowCtes(k: Int, w: Int): String = {
    val krFold = "list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
      "list_transform(string_split(s, ''), c -> CAST(unicode(c) AS HUGEINT))), " +
      s"(acc, c) -> (${mulmod("acc", "1000003")} + c) % $M64)"
    s"""toks AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk FROM documents),
g0 AS (SELECT doc_id, len(tk) - ${k - 1} AS n_grams, i - 1 AS pos, list_reduce(tk[i : i + ${k - 1}], (a, b) -> a || ' ' || b) AS s FROM toks, unnest(range(1, len(tk) - ${k - 2})) AS t(i) WHERE len(tk) >= $k),
h0 AS (SELECT doc_id, n_grams, pos, $krFold AS hraw FROM g0),
${mixCtes("hm", "h0", "hraw", "hu", "doc_id, n_grams, pos")},
gh AS MATERIALIZED (SELECT doc_id, n_grams, pos, ${signedB("hu")} AS h FROM hm),
ws AS (SELECT doc_id, pos FROM gh WHERE pos <= n_grams - $w),
wm AS (SELECT a.doc_id, a.pos, min(b.h) AS mh FROM ws a JOIN gh b ON b.doc_id = a.doc_id AND b.pos >= a.pos AND b.pos <= a.pos + ${w - 1} GROUP BY a.doc_id, a.pos),
selw AS (SELECT DISTINCT doc_id, mh FROM wm),
smin AS (SELECT doc_id, min(h) AS mh FROM gh GROUP BY doc_id),
sel AS MATERIALIZED (SELECT doc_id, mh FROM selw UNION ALL SELECT s.doc_id, s.mh FROM smin s WHERE s.doc_id NOT IN (SELECT doc_id FROM ws))"""
  }

  /** Oracle for q_winnow ([[graft.operators.TextAnalysis.winnowFingerprints]]
    * defaults k=3, w=4): positioned 3-token shingles, Karp–Rabin fold +
    * mix64 per shingle (the rollingHash64 chain over the gram string),
    * per-window min over SIGNED hashes, distinct winnowed set per doc
    * (global min when fewer than w windows), cross-doc shared counts. */
  def winnowFingerprints(k: Int = 3, w: Int = 4): String = {
    s"""WITH ${winnowCtes(k, w)},
shf AS (SELECT mh FROM (SELECT mh, count(DISTINCT doc_id) AS nd FROM sel GROUP BY mh) WHERE nd >= 2),
shc AS (SELECT doc_id, count(*) AS n_shared FROM sel JOIN shf USING (mh) GROUP BY doc_id),
nsel AS (SELECT doc_id, count(*) AS n_selected FROM sel GROUP BY doc_id),
base AS (SELECT DISTINCT doc_id, n_grams FROM gh)
SELECT b.doc_id, CAST(b.n_grams AS BIGINT) AS n_grams, CAST(n.n_selected AS BIGINT) AS n_selected, CAST(coalesce(sc.n_shared, 0) AS BIGINT) AS n_shared, round(CAST(n.n_selected AS DOUBLE) / b.n_grams, 6) AS density FROM base b JOIN nsel n USING (doc_id) LEFT JOIN shc sc USING (doc_id) ORDER BY b.doc_id"""
  }

  /** Oracle for q_containment ([[graft.operators.Dedup
    * .containmentPairsWinnowed]] defaults): candidates = document pairs
    * sharing a WINNOWED fingerprint (the [[winnowFingerprints]] selection
    * chain verbatim), verified by exact w=2-shingle containment
    * n_common / min-size ≥ minCont — the same verify as the old MinHash-
    * candidate oracle, only the candidate CTE changed. */
  def containmentWinnowed(k: Int = 3, w: Int = 4,
                          minCont: Double = 0.5): String =
    s"""WITH ${winnowCtes(k, w)},
cpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sel a JOIN sel b ON a.mh = b.mh AND a.doc_id < b.doc_id),
sh20 AS (SELECT doc_id, tk, unnest(range(1, greatest(len(tk), 2))) AS i FROM toks WHERE len(tk) >= 1),
sh2 AS MATERIALIZED (SELECT DISTINCT doc_id, CASE WHEN len(tk) >= 2 THEN tk[i] || ' ' || tk[i+1] ELSE tk[1] END AS s FROM sh20),
ssz AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common FROM cpairs c JOIN sh2 a ON a.doc_id = c.doc_a JOIN sh2 b ON b.doc_id = c.doc_b AND a.s = b.s GROUP BY c.doc_a, c.doc_b)
SELECT i.doc_a, i.doc_b, i.n_common, round(i.n_common / least(sa.sz, sb.sz), 6) AS containment FROM inter i JOIN ssz sa ON sa.doc_id = i.doc_a JOIN ssz sb ON sb.doc_id = i.doc_b WHERE i.n_common / least(sa.sz, sb.sz) >= $minCont ORDER BY i.doc_a, i.doc_b"""

  /** Oracle for q_ann_int8 ([[graft.operators.Similarity.int8TopK]]):
    * int8 codes re-derived as in the q_embed_quantize oracle, then exact
    * brute-force cosine top-k over the codes. All dot/norm sums are
    * integer-valued (codes ≤ 127, 64 dims → ≤ 2^20), so accumulation
    * order can't perturb them and the cosine doubles are bit-identical
    * to the engine's sequential kernel; ranking runs on the unrounded
    * cosine with the same neighbor_id tie-break. */
  def annInt8(nQueries: Int = 10, topK: Int = 5): String =
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s0 FROM d),
sc AS (SELECT vec_id, v, CASE WHEN s0 = 0.0 THEN 1.0 ELSE s0 END AS scale FROM s),
codes AS MATERIALIZED (SELECT vec_id, list_transform(v, x -> CAST(CAST(round(x / scale) AS BIGINT) AS DOUBLE)) AS q FROM sc),
norms AS MATERIALIZED (SELECT vec_id, list_sum(list_transform(q, x -> x * x)) AS nrm FROM codes),
pairs AS (SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id, list_dot_product(qr.q, c.q) AS dot, nq.nrm AS na, nc.nrm AS nb FROM codes qr JOIN codes c ON c.vec_id <> qr.vec_id JOIN norms nq ON nq.vec_id = qr.vec_id JOIN norms nc ON nc.vec_id = c.vec_id WHERE qr.vec_id < $nQueries),
scored AS (SELECT query_id, neighbor_id, CASE WHEN sqrt(na) * sqrt(nb) = 0.0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos FROM pairs),
ranked AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn FROM scored)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM ranked WHERE rn <= $topK ORDER BY query_id, neighbor_id"""

  /** Oracle for q_ann_ivf ([[graft.operators.Similarity.ivfTopK]]): the
    * ENTIRE pipeline re-derived — unit-normalize, train the coarse
    * quantizer (first-`nList`-by-vec_id init, `iters` Lloyd rounds over
    * the deterministic `vec_id < sampleTarget` training sample, empty
    * cells keep their centroid, ties to the lowest cell), assign the full
    * corpus to final cells, probe each query's `nProbe` nearest cells,
    * exact cosine over the probed candidates, top-`topK`. The iteration
    * CTEs are generated by a loop so the chain depth always matches the
    * operator's `lloydIters`. MATERIALIZED on the reused CTEs — DuckDB
    * re-inlines plain CTEs per reference and the iterated chain would go
    * exponential (same lesson as xxhCtes). */
  def annIvf(nQueries: Int = 10, topK: Int = 5, nList: Int = 16,
             nProbe: Int = 4, iters: Int = 2, sampleTarget: Long = 16000L): String = {
    val lloyd = (1 to iters).map { r =>
      s"""d$r AS (SELECT u.vec_id, c.cell, sum((u.uj - c.cj) * (u.uj - c.cj)) AS dist FROM ut u JOIN c${r - 1} c ON c.j = u.j GROUP BY u.vec_id, c.cell),
a$r AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn FROM d$r) WHERE rn = 1),
m$r AS (SELECT a.cell, u.j, avg(u.uj) AS cj FROM ut u JOIN a$r a ON a.vec_id = u.vec_id GROUP BY a.cell, u.j),
c$r AS MATERIALIZED (SELECT p.cell, p.j, coalesce(m.cj, p.cj) AS cj FROM c${r - 1} p LEFT JOIN m$r m ON m.cell = p.cell AND m.j = p.j)"""
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS j, unnest(CAST(embedding AS DOUBLE[])) AS xj FROM embeddings),
nrm AS (SELECT vec_id, sqrt(sum(xj * xj)) AS nn FROM x GROUP BY vec_id),
u AS MATERIALIZED (SELECT x.vec_id, x.j, CASE WHEN n.nn = 0 THEN x.xj ELSE x.xj / n.nn END AS uj FROM x JOIN nrm n ON n.vec_id = x.vec_id),
ut AS MATERIALIZED (SELECT * FROM u WHERE vec_id < $sampleTarget),
seeds AS (SELECT vec_id, rn - 1 AS cell FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM (SELECT DISTINCT vec_id FROM ut)) WHERE rn <= $nList),
c0 AS MATERIALIZED (SELECT s.cell, u.j, u.uj AS cj FROM seeds s JOIN ut u ON u.vec_id = s.vec_id),
$lloyd,
df AS MATERIALIZED (SELECT u.vec_id, c.cell, sum((u.uj - c.cj) * (u.uj - c.cj)) AS dist FROM u JOIN c$iters c ON c.j = u.j GROUP BY u.vec_id, c.cell),
af AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn FROM df) WHERE rn = 1),
probes AS (SELECT query_id, cell FROM (SELECT vec_id AS query_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn FROM df WHERE vec_id < $nQueries) WHERE rn <= $nProbe),
cand AS (SELECT p.query_id, a.vec_id AS neighbor_id FROM probes p JOIN af a ON a.cell = p.cell WHERE a.vec_id <> p.query_id),
scored AS (SELECT c.query_id, c.neighbor_id, list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos FROM cand c JOIN embeddings q ON q.vec_id = c.query_id JOIN embeddings e ON e.vec_id = c.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn FROM scored)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM ranked WHERE rn <= $topK ORDER BY query_id, neighbor_id"""
  }

  /** Oracle for q_hits ([[graft.operators.Graph.hits]]): the DEFERRED-
    * normalization chain the engine runs (r16 — per-round L2 scalars
    * cancel on the linear recurrence, so both engines iterate the raw
    * INTEGER recurrence a_r = E^T h_{r-1}, h_r = E a_r with h_0 ≡ 1 and
    * normalize once at the end). Every intermediate is an exact integer
    * sum (order-free below 2^53) and the final norm squares through
    * HUGEINT (exact, mirroring the engine's decimal(38,0) square-sum),
    * so the two engines agree bit-for-bit, not just to rounded ulps. */
  def hits(iters: Int = 2): String = {
    val rounds = (1 to iters).map { r =>
      val aPrev = if (r == 1)
        s"a$r AS MATERIALIZED (SELECT dst, CAST(count(*) AS DOUBLE) AS a0 FROM e GROUP BY dst)"
      else
        s"a$r AS MATERIALIZED (SELECT e.dst, sum(p.h0) AS a0 FROM e JOIN h${r - 1} p ON p.src = e.src GROUP BY e.dst)"
      s"""$aPrev,
h$r AS MATERIALIZED (SELECT e.src, sum(p.a0) AS h0 FROM e JOIN a$r p ON p.dst = e.dst GROUP BY e.src)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src, CAST(o_custkey AS BIGINT) AS dst FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
$rounds,
hn AS (SELECT CAST(sqrt(CAST(sum(CAST(h0 AS HUGEINT) * CAST(h0 AS HUGEINT)) AS DOUBLE)) AS DOUBLE) AS n FROM h$iters),
an AS (SELECT CAST(sqrt(CAST(sum(CAST(a0 AS HUGEINT) * CAST(a0 AS HUGEINT)) AS DOUBLE)) AS DOUBLE) AS n FROM a$iters)
SELECT 's' || CAST(src AS VARCHAR) AS node, 'hub' AS kind, round(h0 / (SELECT n FROM hn), 6) AS score FROM h$iters
UNION ALL
SELECT 'c' || CAST(dst AS VARCHAR) AS node, 'authority' AS kind, round(a0 / (SELECT n FROM an), 6) AS score FROM a$iters
ORDER BY kind, node"""
  }

  /** Oracle for q_semantic_decontam
    * ([[graft.operators.Similarity.semanticDecontaminate]]): unit
    * coordinates via the ordered norm fold, benchmark = vec_id %
    * benchMod, min squared distance over the benchmark via ordered
    * per-pair folds (the engine kernel's exact accumulation order),
    * max_cos = 1 − mind/2 rounded BEFORE the flag compare. */
  def semanticDecontaminate(benchMod: Long = 50L, minCosine: Double = 0.35): String =
    s"""WITH dv AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nrm AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> x * x)), (p, q) -> p + q)) AS nn FROM dv),
u AS MATERIALIZED (SELECT dv.vec_id, dv.label, CASE WHEN n.nn = 0 THEN dv.v ELSE list_transform(dv.v, x -> x / n.nn) END AS uv FROM dv JOIN nrm n ON n.vec_id = dv.vec_id),
b AS (SELECT uv AS bv FROM u WHERE vec_id % $benchMod = 0),
dd AS (SELECT u.vec_id, u.label, min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(u.uv, (x, i) -> (x - b.bv[i]) * (x - b.bv[i]))), (p, q) -> p + q)) AS mind FROM u CROSS JOIN b WHERE u.vec_id % $benchMod <> 0 GROUP BY u.vec_id, u.label)
SELECT vec_id, round(1 - mind / 2, 6) AS max_bench_cos, label, CAST(CASE WHEN round(1 - mind / 2, 6) >= $minCosine THEN 1 ELSE 0 END AS INTEGER) AS contaminated FROM dd ORDER BY vec_id"""

  /** Oracle for q_select_kcenter
    * ([[graft.operators.Similarity.kCenterSelect]]): the full greedy
    * farthest-point traversal replayed as a loop-built CTE chain — unit
    * coordinates once, then per round a distance-to-every-center table,
    * the min over centers, the argmax on the ROUNDED distance with the
    * vec_id tie-break (exactly the engine's ordering), and the center
    * set growing by the winner's unit vector. MATERIALIZED on the reused
    * CTEs (same exponential-re-inline lesson as [[annIvf]]). */
  def kCenterSelect(k: Int = 8): String = {
    // r11 hardening: every distance/norm accumulates through an ORDERED
    // list_reduce (j ascending, starting at 0.0) — the engine kernel's
    // exact sequential fold — instead of an unordered SQL sum(), so the
    // round(·, 6) argmax can never flip at an ulp boundary (the SRP-oracle
    // treatment applied here)
    val sqDist =
      "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        "list_transform(u.uv, (x, i) -> (x - c.uv[i]) * (x - c.uv[i]))), (p, q) -> p + q)"
    val rounds = (2 to k).map { r =>
      s"""d$r AS (SELECT u.vec_id, min($sqDist) AS mind FROM u CROSS JOIN cents${r - 1} c GROUP BY u.vec_id),
w$r AS MATERIALIZED (SELECT d.vec_id, round(d.mind, 6) AS r2 FROM d$r d WHERE d.vec_id NOT IN (SELECT vec_id FROM sel${r - 1}) ORDER BY r2 DESC, d.vec_id ASC LIMIT 1),
sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL SELECT $r AS ord, vec_id, r2 FROM w$r),
cents$r AS MATERIALIZED (SELECT * FROM cents${r - 1} UNION ALL SELECT $r AS ord, u.uv FROM u JOIN w$r ON u.vec_id = w$r.vec_id)"""
    }.mkString(",\n")
    s"""WITH dv AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nrm AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> x * x)), (p, q) -> p + q)) AS nn FROM dv),
u AS MATERIALIZED (SELECT dv.vec_id, CASE WHEN n.nn = 0 THEN dv.v ELSE list_transform(dv.v, x -> x / n.nn) END AS uv FROM dv JOIN nrm n ON n.vec_id = dv.vec_id),
s0 AS (SELECT min(vec_id) AS vid FROM embeddings),
sel1 AS MATERIALIZED (SELECT 1 AS ord, vid AS vec_id, CAST(NULL AS DOUBLE) AS r2 FROM s0),
cents1 AS MATERIALIZED (SELECT 1 AS ord, u.uv FROM u JOIN s0 ON u.vec_id = s0.vid),
$rounds
SELECT ord AS sel_order, vec_id, r2 AS radius2 FROM sel$k ORDER BY sel_order"""
  }

  /** Oracle for q_ann_pq ([[graft.operators.Similarity.pqTopK]]): the
    * [[annIvf]] Lloyd chain extended with a subspace key — per-subspace
    * codebooks (first-ksub init over the vec_id-ordered sample, fixed
    * iterations, empty-cell coalesce), corpus encoding as the per-
    * (vector, subspace) argmin, and ADC = Σ_s dist(query_s,
    * codeword(neighbor, s)). The `dd` distance table of EVERY vector
    * against the final books serves both the encoding argmin and the
    * query lookup tables — exactly the reuse the engine's driver-side
    * LUT build expresses. Ranking on the ROUNDED distance with the id
    * tie-break, mirroring the engine. */
  def annPq(nQueries: Int = 10, topK: Int = 5, ksub: Int = 16,
            dsub: Int = 8, iters: Int = 2, sampleTarget: Long = 16000L): String = {
    val lloyd = (1 to iters).map { r =>
      s"""d$r AS (SELECT t.vec_id, t.s, c.cell, sum((t.xj - c.cj) * (t.xj - c.cj)) AS dist FROM st t JOIN c${r - 1} c ON c.s = t.s AND c.jj = t.jj GROUP BY t.vec_id, t.s, c.cell),
a$r AS (SELECT vec_id, s, cell FROM (SELECT vec_id, s, cell, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cell ASC) AS rn FROM d$r) WHERE rn = 1),
m$r AS (SELECT a.cell, t.s, t.jj, avg(t.xj) AS cj FROM st t JOIN a$r a ON a.vec_id = t.vec_id AND a.s = t.s GROUP BY a.cell, t.s, t.jj),
c$r AS MATERIALIZED (SELECT p.cell, p.s, p.jj, coalesce(m.cj, p.cj) AS cj FROM c${r - 1} p LEFT JOIN m$r m ON m.cell = p.cell AND m.s = p.s AND m.jj = p.jj)"""
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS j, unnest(CAST(embedding AS DOUBLE[])) AS xj FROM embeddings),
sx AS MATERIALIZED (SELECT vec_id, CAST((j - 1) // $dsub AS INT) AS s, CAST((j - 1) % $dsub AS INT) AS jj, xj FROM x),
st AS MATERIALIZED (SELECT * FROM sx WHERE vec_id < $sampleTarget),
seeds AS (SELECT vec_id, rn - 1 AS cell FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM (SELECT DISTINCT vec_id FROM st)) WHERE rn <= $ksub),
c0 AS MATERIALIZED (SELECT sd.cell, t.s, t.jj, t.xj AS cj FROM seeds sd JOIN st t ON t.vec_id = sd.vec_id),
$lloyd,
dd AS MATERIALIZED (SELECT t.vec_id, t.s, c.cell, sum((t.xj - c.cj) * (t.xj - c.cj)) AS dist FROM sx t JOIN c$iters c ON c.s = t.s AND c.jj = t.jj GROUP BY t.vec_id, t.s, c.cell),
code AS MATERIALIZED (SELECT vec_id, s, cell AS code FROM (SELECT vec_id, s, cell, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cell ASC) AS rn FROM dd) WHERE rn = 1),
adc AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, sum(q.dist) AS dist FROM (SELECT * FROM dd WHERE vec_id < $nQueries) q JOIN code n ON n.s = q.s AND n.code = q.cell WHERE n.vec_id <> q.vec_id GROUP BY 1, 2),
ranked AS (SELECT query_id, neighbor_id, round(dist, 6) AS adc_dist, row_number() OVER (PARTITION BY query_id ORDER BY round(dist, 6) ASC, neighbor_id ASC) AS rn FROM adc)
SELECT query_id, neighbor_id, adc_dist FROM ranked WHERE rn <= $topK ORDER BY query_id, neighbor_id"""
  }

  /** Oracle for q_ann_ivfpq ([[graft.operators.Similarity.ivfPqTopK]]):
    * the annIvf chain (iv-prefixed — coarse fit on unit vectors, full
    * assignment, per-query probes) composed with the annPq chain
    * (pq-prefixed — per-subspace codebook fit, encode, per-query subspace
    * LUT), candidates restricted to probed cells, ADC rank on the rounded
    * distance. */
  def annIvfPq(nQueries: Int = 10, topK: Int = 5, nList: Int = 16,
               nProbe: Int = 4, ksub: Int = 16, dsub: Int = 8,
               iters: Int = 2, sampleTarget: Long = 16000L): String = {
    val ivLloyd = (1 to iters).map { r =>
      s"""ivd$r AS (SELECT u.vec_id, c.cell, sum((u.uj - c.cj) * (u.uj - c.cj)) AS dist FROM ivut u JOIN ivc${r - 1} c ON c.j = u.j GROUP BY u.vec_id, c.cell),
iva$r AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn FROM ivd$r) WHERE rn = 1),
ivm$r AS (SELECT a.cell, u.j, avg(u.uj) AS cj FROM ivut u JOIN iva$r a ON a.vec_id = u.vec_id GROUP BY a.cell, u.j),
ivc$r AS MATERIALIZED (SELECT p.cell, p.j, coalesce(m.cj, p.cj) AS cj FROM ivc${r - 1} p LEFT JOIN ivm$r m ON m.cell = p.cell AND m.j = p.j)"""
    }.mkString(",\n")
    val pqLloyd = (1 to iters).map { r =>
      s"""pqd$r AS (SELECT t.vec_id, t.s, c.cell, sum((t.xj - c.cj) * (t.xj - c.cj)) AS dist FROM pqst t JOIN pqc${r - 1} c ON c.s = t.s AND c.jj = t.jj GROUP BY t.vec_id, t.s, c.cell),
pqa$r AS (SELECT vec_id, s, cell FROM (SELECT vec_id, s, cell, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cell ASC) AS rn FROM pqd$r) WHERE rn = 1),
pqm$r AS (SELECT a.cell, t.s, t.jj, avg(t.xj) AS cj FROM pqst t JOIN pqa$r a ON a.vec_id = t.vec_id AND a.s = t.s GROUP BY a.cell, t.s, t.jj),
pqc$r AS MATERIALIZED (SELECT p.cell, p.s, p.jj, coalesce(m.cj, p.cj) AS cj FROM pqc${r - 1} p LEFT JOIN pqm$r m ON m.cell = p.cell AND m.s = p.s AND m.jj = p.jj)"""
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS j, unnest(CAST(embedding AS DOUBLE[])) AS xj FROM embeddings),
nrm AS (SELECT vec_id, sqrt(sum(xj * xj)) AS nn FROM x GROUP BY vec_id),
ivu AS MATERIALIZED (SELECT x.vec_id, x.j, CASE WHEN n.nn = 0 THEN x.xj ELSE x.xj / n.nn END AS uj FROM x JOIN nrm n ON n.vec_id = x.vec_id),
ivut AS MATERIALIZED (SELECT * FROM ivu WHERE vec_id < $sampleTarget),
ivseeds AS (SELECT vec_id, rn - 1 AS cell FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM (SELECT DISTINCT vec_id FROM ivut)) WHERE rn <= $nList),
ivc0 AS MATERIALIZED (SELECT s.cell, u.j, u.uj AS cj FROM ivseeds s JOIN ivut u ON u.vec_id = s.vec_id),
$ivLloyd,
ivdf AS MATERIALIZED (SELECT u.vec_id, c.cell, sum((u.uj - c.cj) * (u.uj - c.cj)) AS dist FROM ivu u JOIN ivc$iters c ON c.j = u.j GROUP BY u.vec_id, c.cell),
ivaf AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn FROM ivdf) WHERE rn = 1),
probes AS (SELECT query_id, cell FROM (SELECT vec_id AS query_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn FROM ivdf WHERE vec_id < $nQueries) WHERE rn <= $nProbe),
pqsx AS MATERIALIZED (SELECT vec_id, CAST((j - 1) // $dsub AS INT) AS s, CAST((j - 1) % $dsub AS INT) AS jj, xj FROM x),
pqst AS MATERIALIZED (SELECT * FROM pqsx WHERE vec_id < $sampleTarget),
pqseeds AS (SELECT vec_id, rn - 1 AS cell FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM (SELECT DISTINCT vec_id FROM pqst)) WHERE rn <= $ksub),
pqc0 AS MATERIALIZED (SELECT sd.cell, t.s, t.jj, t.xj AS cj FROM pqseeds sd JOIN pqst t ON t.vec_id = sd.vec_id),
$pqLloyd,
pqdd AS MATERIALIZED (SELECT t.vec_id, t.s, c.cell, sum((t.xj - c.cj) * (t.xj - c.cj)) AS dist FROM pqsx t JOIN pqc$iters c ON c.s = t.s AND c.jj = t.jj GROUP BY t.vec_id, t.s, c.cell),
pqcode AS MATERIALIZED (SELECT vec_id, s, cell AS code FROM (SELECT vec_id, s, cell, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cell ASC) AS rn FROM pqdd) WHERE rn = 1),
cand AS (SELECT p.query_id, a.vec_id AS neighbor_id FROM probes p JOIN ivaf a ON a.cell = p.cell WHERE a.vec_id <> p.query_id),
adc AS (SELECT c.query_id, c.neighbor_id, sum(q.dist) AS dist FROM cand c JOIN (SELECT * FROM pqdd WHERE vec_id < $nQueries) q ON q.vec_id = c.query_id JOIN pqcode n ON n.vec_id = c.neighbor_id AND n.s = q.s AND n.code = q.cell GROUP BY 1, 2),
ranked AS (SELECT query_id, neighbor_id, round(dist, 6) AS adc_dist, row_number() OVER (PARTITION BY query_id ORDER BY round(dist, 6) ASC, neighbor_id ASC) AS rn FROM adc)
SELECT query_id, neighbor_id, adc_dist FROM ranked WHERE rn <= $topK ORDER BY query_id, neighbor_id"""
  }

  // xxHash64 primes (public algorithm constants)
  private val P1 = u(0x9E3779B185EBCA87L)
  private val P2 = u(0xC2B2AE3D27D4EB4FL)
  private val P3 = u(0x165667B19E3779F9L)
  private val P4 = u(0x85EBCA77C2B2AE63L)
  private val P5 = u(0x27D4EB2F165667C5L)
  private def rotl(x: String, r: Int): String =
    s"((((($x) << $r) % $M64) + (($x) >> ${64 - r})) % $M64)"

  /** CTE chain computing Spark's `xxhash64(bigint)` (seed 42, one 8-byte
    * block + avalanche) of column `doc_id` from CTE `src` into column
    * `xxh`. MATERIALIZED: DuckDB inlines plain CTEs, and the staged chain
    * re-inlined per reference goes exponential (measured 11 s → 0.0 s). */
  private[graft] def xxhCtes(seed: Long): String =
    s"""x0 AS MATERIALIZED (SELECT *, ${unsigned("doc_id")} AS ku FROM src),
x1 AS MATERIALIZED (SELECT *, ${mulmod("ku", P2)} AS m1 FROM x0),
x2 AS MATERIALIZED (SELECT *, ${mulmod(rotl("m1", 31), P1)} AS k1 FROM x1),
x3 AS MATERIALIZED (SELECT *, xor(($seed + $P5 + 8) % $M64, k1) AS hx FROM x2),
x4 AS MATERIALIZED (SELECT *, (${mulmod(rotl("hx", 27), P1)} + $P4) % $M64 AS ha FROM x3),
x5 AS MATERIALIZED (SELECT *, ${mulmod("xor(ha, ha >> 33)", P2)} AS hb FROM x4),
x6 AS MATERIALIZED (SELECT *, ${mulmod("xor(hb, hb >> 29)", P3)} AS hc FROM x5),
xx AS MATERIALIZED (SELECT *, xor(hc, hc >> 32) AS xxh FROM x6)"""

  /** Oracle for q_sample_stratified
    * ([[graft.operators.Sampling.stratifiedEventsByHash]]): the identical
    * xxhash64(event_id) membership replayed through the shared chain —
    * keep iff pmod(hash, 10^6) is under the event type's scaled fraction
    * — then per-type counts plus the exact event-id checksum (the
    * [[negativeSamples]] content-pinning discipline). `fractions` carries
    * the already-scaled integer thresholds. */
  def stratifiedSample(fractions: Seq[(String, Long)]): String = {
    val cases = fractions.map { case (t, thr) => s"WHEN '$t' THEN $thr" }.mkString(" ")
    s"""WITH src AS MATERIALIZED (SELECT event_id AS doc_id, event_type FROM events),
${xxhCtes(42L)},
kept AS (SELECT doc_id, event_type FROM xx WHERE (((${signedB("xxh")}) % 1000000) + 1000000) % 1000000 < CASE event_type $cases ELSE -1 END)
SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM kept GROUP BY event_type ORDER BY event_type"""
  }

  /** Oracle for q_negative_sample ([[graft.operators.Sampling.negativeSamples]]):
    * the identical packed-key xxhash64 draw replayed through the shared
    * chain — positives, k-way draw index unnest, signed-pmod into the
    * part range, NOT EXISTS rejection, customer-level counts + the
    * exact integer item-id checksum. */
  def negativeSamples(k: Int = 2): String =
    s"""WITH pos AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
np AS (SELECT CAST(max(p_partkey) AS BIGINT) AS np FROM part),
src AS MATERIALIZED (SELECT c, p, i, (c * (np + 1) + p) * $k + i AS doc_id FROM pos CROSS JOIN np CROSS JOIN (SELECT unnest([${(0 until k).mkString(", ")}]) AS i)),
${xxhCtes(42L)},
cand AS MATERIALIZED (SELECT c, (((${signedB("xxh")}) % np) + np) % np + 1 AS neg FROM xx CROSS JOIN np),
kept AS (SELECT cand.c, cand.neg FROM cand WHERE NOT EXISTS (SELECT 1 FROM pos WHERE pos.c = cand.c AND pos.p = cand.neg)),
pa AS (SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n_pos FROM pos GROUP BY c),
na AS (SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n_neg, CAST(sum(neg) AS BIGINT) AS neg_checksum FROM kept GROUP BY c)
SELECT pa.custkey, pa.n_pos, coalesce(na.n_neg, 0) AS n_neg, coalesce(na.neg_checksum, 0) AS neg_checksum FROM pa LEFT JOIN na ON na.custkey = pa.custkey ORDER BY pa.custkey"""

  /** Oracle for q_lang_cap ([[graft.operators.Sampling.capPerGroup]] over
    * `lang`, cap 40): per-language row_number over (signed xxhash64(doc_id),
    * doc_id) — the window form of the engine's bounded-heap TopKPerGroup,
    * identical selection by construction. */
  def capPerGroup(cap: Int = 40): String =
    s"""WITH src AS (SELECT doc_id, lang, n_chars FROM documents),
${xxhCtes(42L)},
h AS (SELECT doc_id, lang, n_chars, ${signedB("xxh")} AS sh FROM xx),
r AS (SELECT lang, doc_id, n_chars, CAST(row_number() OVER (PARTITION BY lang ORDER BY sh, doc_id) AS INTEGER) AS rank FROM h)
SELECT lang, doc_id, rank, n_chars FROM r WHERE rank <= $cap ORDER BY lang, rank"""

  /** Oracle for q_split_assign ([[graft.operators.Sampling.documentSplits]]:
    * 90/5/5 over pmod(xxhash64(doc_id), 100)). */
  def splitAssign: String =
    s"""WITH src AS (SELECT doc_id, n_chars FROM documents),
${xxhCtes(42L)},
asg AS (SELECT doc_id, n_chars, (((${signedB("xxh")}) % 100) + 100) % 100 AS bucket FROM xx),
lab AS (SELECT doc_id, n_chars, CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split FROM asg)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs, round(avg(n_chars), 6) AS avg_chars FROM lab GROUP BY split ORDER BY split"""

  /** Oracle for q_epoch_shuffle ([[graft.operators.Sampling.epochShuffle]]):
    * the same xxhash64(doc_id·2 + epoch) chain over the epoch-exploded
    * corpus, ranked per epoch on (signed hash, doc_id). */
  def epochShuffle(epochs: Seq[Int] = Seq(0, 1), topK: Int = 20): String =
    s"""WITH src AS (SELECT doc_id AS orig, epoch, doc_id * 2 + epoch AS doc_id FROM documents CROSS JOIN (SELECT unnest([${epochs.mkString(", ")}]) AS epoch)),
${xxhCtes(42L)},
hh AS (SELECT orig, epoch, ${signedB("xxh")} AS h FROM xx),
r AS (SELECT epoch, orig, h, CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, orig) AS INTEGER) AS pos FROM hh)
SELECT epoch, pos, orig AS doc_id, h FROM r WHERE pos <= $topK ORDER BY epoch, pos"""

  /** Oracle for q_pack_sequences ([[graft.operators.Packing.packDocuments]]
    * defaults: contextLen 256, 8 shards): shard = pmod(xxhash64(doc_id),
    * nShards), then the per-shard NEXT-FIT recurrence runs as a recursive
    * CTE over the doc_id-ranked rows — each iteration advances every shard
    * by one document, so the working set stays at nShards rows and the
    * iteration count is the largest shard size. Integer state only; bit-
    * exact against the engine's sequential per-partition pass. */
  def packSequences(contextLen: Int = 256, nShards: Int = 8): String =
    s"""WITH RECURSIVE src AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS BIGINT) AS nt FROM documents),
${xxhCtes(42L)},
dd AS MATERIALIZED (SELECT doc_id, nt, CAST(((((${signedB("xxh")}) % $nShards) + $nShards) % $nShards) AS INTEGER) AS shard FROM xx),
dr AS MATERIALIZED (SELECT doc_id, nt, shard, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rk FROM dd),
r(shard, rk, doc_id, nt, bin, used) AS (
  SELECT shard, rk, doc_id, nt, CAST(0 AS BIGINT), nt FROM dr WHERE rk = 1
  UNION ALL
  SELECT d.shard, d.rk, d.doc_id, d.nt, CASE WHEN r.used + d.nt > $contextLen THEN r.bin + 1 ELSE r.bin END, CASE WHEN r.used + d.nt > $contextLen THEN d.nt ELSE r.used + d.nt END FROM r JOIN dr d ON d.shard = r.shard AND d.rk = r.rk + 1)
SELECT doc_id, shard, bin AS bin_idx, nt AS n_tokens FROM r ORDER BY doc_id"""

  /** Oracle for q_text_lang ([[graft.operators.TextAnalysis.languageId]]):
    * per-language marker-occurrence scores over the space-padded lowercased
    * text — non-overlapping counts via length-delta replace, identical to
    * the kernel's indexOf scan — with the kernel's largest-code tie-break
    * (ORDER BY score DESC, lang DESC). The marker table is generated from
    * [[graft.functions.TextImpl.Profiles]] so the two can't drift. */
  def textLang: String = {
    val scores = graft.functions.TextImpl.Profiles.map { case (lang, markers) =>
      val parts = markers
        .map(m => s"(length(s) - length(replace(s, '$m', ''))) // ${m.length}")
        .mkString(" + ")
      s"SELECT doc_id, '$lang' AS lang, CAST($parts AS DOUBLE) AS score FROM padded"
    }.mkString(" UNION ALL ")
    s"""WITH padded AS MATERIALIZED (SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents),
scores AS ($scores),
ranked AS (SELECT doc_id, lang, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn FROM scores)
SELECT doc_id, lang AS lang_pred, round(score, 4) AS lang_score FROM ranked WHERE rn = 1 ORDER BY doc_id"""
  }

  /** Oracle for q_mixture ([[graft.operators.Sampling.mixtureBySource]]
    * with the query's targets src0 0.6 / src1 0.25 / src2 0.15): the
    * water-filling N-star = min of tokens_s/p_s and the per-source keep
    * thresholds round(min(1, p·Nstar/tokens)·1e6) are re-derived in SQL;
    * membership is pmod(xxhash64(doc_id), 1e6) < threshold, exactly as
    * the operator computes it. */
  def mixture: String =
    s"""WITH tk AS MATERIALIZED (SELECT doc_id, source, CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens FROM documents),
tgt(source, p) AS (VALUES ('src0', 0.6), ('src1', 0.25), ('src2', 0.15)),
avail AS (SELECT source, sum(n_tokens) AS tok FROM tk GROUP BY source),
nstar AS (SELECT min(tok / p) AS ns FROM avail JOIN tgt USING (source)),
keepf AS (SELECT source, CAST(round(least(1.0, p * ns / tok) * 1000000) AS BIGINT) AS kexpr FROM avail JOIN tgt USING (source) CROSS JOIN nstar),
src AS (SELECT tk.doc_id, tk.source, tk.n_tokens, kexpr FROM tk JOIN keepf USING (source)),
${xxhCtes(42L)},
flt AS (SELECT doc_id, source, n_tokens, kexpr, (((${signedB("xxh")}) % 1000000) + 1000000) % 1000000 AS bucket FROM xx)
SELECT doc_id, source, n_tokens, round(CAST(kexpr AS DOUBLE) / 1000000, 6) AS keep_frac FROM flt WHERE bucket < kexpr ORDER BY doc_id"""

  /** Oracle for q_mixture_temp
    * ([[graft.operators.Sampling.mixtureTemperature]]): α = 1/2 source
    * weights re-derived step for step — BIGINT token sums (DuckDB's
    * HUGEINT sum cast back down), one double division, sqrt (IEEE-exact
    * in both engines, unlike pow/ln), floor-scale to BIGINT, and an
    * integer-summed normalizer — so the match is bit-exact, not
    * tolerance-based. */
  def mixtureTemperature: String =
    s"""WITH per AS (SELECT source, CAST(sum(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS BIGINT)) AS BIGINT) AS n_tokens FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
w AS (SELECT source, n_tokens, CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE) AS p, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE)) * 1e9) AS BIGINT) AS wi FROM per CROSS JOIN tot),
wt AS (SELECT CAST(sum(wi) AS BIGINT) AS wtot FROM w)
SELECT source, n_tokens, round(p, 6) AS p_raw, round(CAST(wi AS DOUBLE) / CAST(wtot AS DOUBLE), 6) AS alpha_share FROM w CROSS JOIN wt ORDER BY source"""

  /** Oracle for q_split_leakage
    * ([[graft.operators.Sampling.splitLeakage]]): the xxhash64 split
    * buckets re-derived, the w=3 shingle CASE from the q_decontaminate
    * oracle (short docs emit one whole-document shingle), each shingle
    * collapsed to its Karp–Rabin+mix64 64-bit fingerprint (the
    * rollingFingerprints fold — the engine ships fingerprints, not
    * shingle strings, through its shuffles, so the oracle joins on the
    * identical keys and any 64-bit collision is SHARED semantics),
    * distinct train fingerprints, and the per-held-out-doc overlap
    * rollup with the exact integer majority test. */
  def splitLeakage: String = {
    val fold = krFoldChars("s")
    s"""WITH src AS (SELECT doc_id, text FROM documents),
${xxhCtes(42L)},
lab AS (SELECT doc_id, text, CASE WHEN (((${signedB("xxh")}) % 100) + 100) % 100 < 90 THEN 'train' WHEN (((${signedB("xxh")}) % 100) + 100) % 100 < 95 THEN 'val' ELSE 'test' END AS split FROM xx),
toks AS (SELECT doc_id, split, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk FROM lab),
sh AS (SELECT DISTINCT doc_id, split, CASE WHEN len(tk) >= 3 THEN tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] ELSE array_to_string(tk, ' ') END AS s FROM (SELECT doc_id, split, tk, unnest(range(1, greatest(len(tk)-1, 2))) AS i FROM toks WHERE len(tk) >= 1)),
f0 AS (SELECT doc_id, split, $fold AS hraw FROM sh),
${mixCtes("ff", "f0", "hraw", "h", "doc_id, split")},
tr AS (SELECT DISTINCT h FROM ff WHERE split = 'train'),
per AS (SELECT split, ff.doc_id, count(*) AS n, count(tr.h) AS shared FROM ff LEFT JOIN tr ON ff.h = tr.h WHERE split <> 'train' GROUP BY split, ff.doc_id)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(CASE WHEN shared * 2 > n THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_docs, round(avg(CAST(shared AS DOUBLE) / n), 6) AS avg_shared_frac FROM per GROUP BY split ORDER BY split"""
  }

  /** Oracle for q_ngram_novelty ([[graft.operators.Dedup.ngramNovelty]]):
    * per-doc distinct w=3 shingles (the q_decontaminate CASE for short
    * docs), Karp–Rabin+mix64 fingerprints, first-owner = min doc_id per
    * fingerprint, per-doc novelty rollup, then decile banding off the
    * broadcast max doc_id. */
  def ngramNovelty: String = {
    val fold = krFoldChars("s")
    s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk FROM documents),
sh AS (SELECT DISTINCT doc_id, CASE WHEN len(tk) >= 3 THEN tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] ELSE array_to_string(tk, ' ') END AS s FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk)-1, 2))) AS i FROM toks WHERE len(tk) >= 1)),
f0 AS (SELECT doc_id, $fold AS hraw FROM sh),
${mixCtes("ff", "f0", "hraw", "h", "doc_id")},
fo AS (SELECT h, min(doc_id) AS fst FROM ff GROUP BY h),
pd AS (SELECT ff.doc_id, count(*) AS n, sum(CASE WHEN ff.doc_id = fo.fst THEN 1 ELSE 0 END) AS novel FROM ff JOIN fo USING (h) GROUP BY ff.doc_id),
mx AS (SELECT max(doc_id) AS m FROM documents)
SELECT least(CAST(floor(pd.doc_id * 10 / (m + 1)) AS BIGINT), 9) AS decile, CAST(count(*) AS BIGINT) AS n_docs, round(avg(CAST(novel AS DOUBLE) / n), 6) AS avg_novelty, round(CAST(sum(novel) AS DOUBLE) / sum(n), 6) AS novel_shingle_frac FROM pd CROSS JOIN mx GROUP BY 1 ORDER BY decile"""
  }

  /** Oracle for q_dup_spans ([[graft.operators.Dedup.duplicateSpans]]):
    * positioned w=8 token runs, each collapsed to its Karp–Rabin+mix64
    * fingerprint (the engine shuffles fingerprints, not run text — the
    * splitLeakage treatment), repeated-run detection by distinct-doc
    * count ≥ 2 on the fingerprint, then the per-document interval merge
    * and coverage rollup. */
  def dupSpans(spanLen: Int = 8): String = {
    val fold = krFoldChars("s")
    s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk FROM documents),
sh AS (SELECT doc_id, len(tk) AS n_tokens, i - 1 AS pos, list_reduce(tk[i : i + ${spanLen - 1}], (a, b) -> a || ' ' || b) AS s FROM toks, unnest(range(1, len(tk) - ${spanLen - 2})) AS t(i) WHERE len(tk) >= $spanLen),
f0 AS (SELECT doc_id, n_tokens, pos, $fold AS hraw FROM sh),
${mixCtes("ff", "f0", "hraw", "h", "doc_id, n_tokens, pos")},
dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM ff GROUP BY h) WHERE nd >= 2),
mark AS (SELECT doc_id, n_tokens, pos FROM ff JOIN dup USING (h)),
sp AS (SELECT doc_id, n_tokens, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $spanLen THEN 0 ELSE 1 END AS nw FROM mark),
sid AS (SELECT doc_id, n_tokens, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM sp),
per AS (SELECT doc_id, n_tokens, span_id, min(pos) AS s0, max(pos) + $spanLen AS e0 FROM sid GROUP BY 1, 2, 3)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, CAST(sum(e0 - s0) AS BIGINT) AS dup_tokens, CAST(n_tokens AS BIGINT) AS n_tokens, round(CAST(sum(e0 - s0) AS DOUBLE) / n_tokens, 6) AS dup_frac FROM per GROUP BY doc_id, n_tokens ORDER BY doc_id"""
  }

  /** Shared chain ending in `spans(doc_id, span_start, span_len)` — the
    * direct-derivation duplicate-substring spans [[dupSubstrings]] and
    * [[dupCut]] both read. */
  private def dupSpanCtes(minLen: Int, minDocs: Int): String =
    s"""pos AS (SELECT doc_id, i AS p, substr(text, CAST(i AS INT), $minLen) AS g FROM documents, unnest(range(1, length(text) - ${minLen - 2})) AS t(i)),
dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM pos GROUP BY g) WHERE nd >= $minDocs),
mark AS (SELECT doc_id, p FROM pos JOIN dup USING (g)),
isl AS (SELECT doc_id, p, CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) = 1 THEN 0 ELSE 1 END AS brk FROM mark),
grp AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS gid FROM isl),
spans AS MATERIALIZED (SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start, CAST(max(p) + $minLen - min(p) AS BIGINT) AS span_len FROM grp GROUP BY doc_id, gid)"""

  /** Oracle for q_dup_substrings
    * ([[graft.operators.SuffixDedup.duplicateSubstrings]]): the DIRECT
    * derivation — every L-char substring extracted and grouped by the
    * string itself, cross-doc duplicate starts merged into maximal
    * spans. The engine builds the same answer by truncated prefix
    * doubling (exact rank equality, no strings through the shuffle);
    * both derivations are exact, so they must match row-for-row. */
  def dupSubstrings(minLen: Int = 32, minDocs: Int = 2): String =
    s"""WITH ${dupSpanCtes(minLen, minDocs)}
SELECT doc_id, span_start, span_len FROM spans ORDER BY doc_id, span_start"""

  /** Oracle for q_dedup_cut ([[graft.operators.SuffixDedup
    * .cutDuplicateSpans]]): the spans re-derived directly, then the KEPT
    * segments between them reassembled in order — identical segment
    * arithmetic to the engine (span ends are monotone, so the previous
    * span's end is the next kept segment's start; overlapping coverage
    * clamps to an empty piece). */
  def dupCut(minLen: Int = 32, minDocs: Int = 2): String =
    s"""WITH ${dupSpanCtes(minLen, minDocs)},
mid AS (SELECT doc_id, coalesce(lag(span_start + span_len) OVER (PARTITION BY doc_id ORDER BY span_start), 1) AS seg_start, span_start AS seg_end FROM spans),
tl AS (SELECT doc_id, max(span_start + span_len) AS seg_start, CAST(-1 AS BIGINT) AS seg_end FROM spans GROUP BY doc_id),
pieces AS (SELECT d.doc_id, coalesce(s.seg_start, 1) AS seg_start, CASE WHEN s.seg_start IS NULL THEN d.text WHEN s.seg_end = -1 THEN substr(d.text, CAST(s.seg_start AS INT), greatest(length(d.text) - CAST(s.seg_start AS INT) + 1, 0)) ELSE substr(d.text, CAST(s.seg_start AS INT), CAST(greatest(s.seg_end - s.seg_start, 0) AS INT)) END AS piece FROM documents d LEFT JOIN (SELECT * FROM mid UNION ALL SELECT * FROM tl) s USING (doc_id)),
cleaned AS (SELECT doc_id, string_agg(piece, '' ORDER BY seg_start) AS txt FROM pieces GROUP BY doc_id)
SELECT c.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars, CAST(length(c.txt) AS BIGINT) AS n_clean, CAST(length(d.text) - length(c.txt) AS BIGINT) AS n_cut, md5(c.txt) AS clean_md5 FROM cleaned c JOIN documents d USING (doc_id) ORDER BY c.doc_id"""

  /** Oracle for q_cdc_chunks
    * ([[graft.operators.Packing.cdcChunks]]): the per-token Karp–Rabin +
    * splitmix64 fingerprint re-derived (same fold as
    * [[rollingFingerprints]] but over each token), boundary = hash ≡ 0
    * (mod 2^maskBits), chunk ids from a strictly-preceding boundary count
    * window, then the per-doc stats rollup. */
  def cdcChunks(maskBits: Int = 3): String = {
    val modulus = 1 << maskBits
    val fold = krFoldChars("w")
    s"""WITH base AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk FROM documents),
tt AS (SELECT doc_id, i, tk[i] AS w FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM base WHERE len(tk) > 0)),
h0 AS (SELECT doc_id, i, $fold AS hraw FROM tt),
${mixCtes("hh", "h0", "hraw", "h", "doc_id, i")},
b AS (SELECT doc_id, i, CASE WHEN h % $modulus = 0 THEN 1 ELSE 0 END AS bd FROM hh),
cid AS (SELECT doc_id, i, coalesce(sum(bd) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid FROM b),
cl AS (SELECT doc_id, cid, count(*) AS clen FROM cid GROUP BY doc_id, cid)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, CAST(max(clen) AS BIGINT) AS max_chunk_tokens, round(avg(clen), 6) AS avg_chunk_tokens FROM cl GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Oracle for q_quality_model
    * ([[graft.operators.TextAnalysis.qualityModel]]): the fixed-iteration
    * logistic-regression training loop re-derived as a materialized CTE
    * chain (pattern: the q_ann_ivf loop-built oracle). Each iteration's
    * 1-row weight CTE computes the four gradient sums over the feature
    * CTE with the previous weights grouped in; the z expression keeps the
    * engine's exact textual operand/associativity order so the only
    * cross-engine drift is libm exp/ln ulps and float-sum order, absorbed
    * by the round-6 payload. */
  def qualityModel(targetSource: String = "src0", iters: Int = 5): String = {
    def zOf(w: String) =
      s"f.x0*$w.w0 + f.x1*$w.w1 + f.x2*$w.w2 + f.x3*$w.w3"
    def sig(w: String) = s"1.0 / (1.0 + exp(-(${zOf(w)})))"
    val head =
      s"""WITH toks AS (SELECT doc_id, source, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS w FROM documents),
pd AS (SELECT doc_id, CASE WHEN source = '$targetSource' THEN 1.0 ELSE 0.0 END AS y, ln(1.0 + count(*)) AS f1, avg(length(w)) AS f2, CAST(count(DISTINCT w) AS DOUBLE) / count(*) AS f3 FROM toks GROUP BY doc_id, source),
st AS MATERIALIZED (SELECT avg(f1) AS m1, stddev_pop(f1) AS s1, avg(f2) AS m2, stddev_pop(f2) AS s2, avg(f3) AS m3, stddev_pop(f3) AS s3, count(*) AS c FROM pd),
feat AS MATERIALIZED (SELECT doc_id, y, 1.0 AS x0, (f1 - m1) / (CASE WHEN s1 = 0.0 THEN 1.0 ELSE s1 END) AS x1, (f2 - m2) / (CASE WHEN s2 = 0.0 THEN 1.0 ELSE s2 END) AS x2, (f3 - m3) / (CASE WHEN s3 = 0.0 THEN 1.0 ELSE s3 END) AS x3 FROM pd, st),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    val steps = (1 to iters).map { k =>
      val p = s"w${k - 1}"
      val upd = (0 to 3).map { i =>
        s"w.w$i + 1.0 * sum((f.y - ${sig("w")}) * f.x$i) / (SELECT c FROM st) AS w$i"
      }.mkString(", ")
      s"w$k AS MATERIALIZED (SELECT $upd FROM feat f, $p w GROUP BY w.w0, w.w1, w.w2, w.w3)"
    }
    (Seq(head) ++ steps).mkString(",\n") +
      s"""
SELECT f.doc_id, CAST(f.y AS INT) AS label, round(${sig("w")}, 6) AS score
FROM feat f, w$iters w ORDER BY f.doc_id"""
  }

  /** Oracle for q_weighted_sample
    * ([[graft.operators.Sampling.weightedSample]]): the hash-keyed A-ES
    * ranking re-derived — u from the same xxhash64(doc_id) bucket
    * arithmetic, key = ln(u)/n_tokens, top-k by (key DESC, doc_id). */
  def weightedSample(k: Int = 50, denom: Long = 1L << 20): String =
    s"""WITH src AS (SELECT doc_id, source, CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens FROM documents),
${xxhCtes(42L)},
keyed AS (SELECT doc_id, source, n_tokens, ln((((((${signedB("xxh")}) % $denom) + $denom) % $denom) + 0.5) / $denom) / n_tokens AS k FROM xx WHERE n_tokens > 0),
top AS (SELECT doc_id, source, n_tokens FROM keyed ORDER BY k DESC, doc_id ASC LIMIT $k)
SELECT doc_id, source, n_tokens FROM top ORDER BY doc_id"""
}
