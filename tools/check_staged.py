#!/usr/bin/env python3
"""Out-of-core staged evaluation of the shingle-heavy dedup oracles, for
the big self-gate scale factors where the monolithic oracle SQL exceeds
local disk.

Why this exists: `dedup_jaccard` / `dedup_clusters` / `pipeline_curate`
share a CTE prefix in which the exploded shingle stream `shx` (~1 B rows
at sf10: 5 M docs x ~200 word-3-shingles) is referenced by BOTH the
minhash signature aggregate (`sig`) and the exact-token-set CTE (`tok`),
and `tok` is itself joined twice in the Jaccard intersection. DuckDB
materializes a CTE referenced more than once, so the monolith needs
out-of-core temp proportional to the FULL shingle stream (measured:
>77 GB at sf10 -> ENOSPC), even though the rows actually *consumed*
downstream are only those of candidate-pair docs.

The staging below evaluates the SAME SQL text in stages, with one
semantics-preserving restriction:

  tok  ->  tokc = tok restricted to docs appearing in `pairs`.

Proof obligation: in the monolith, `tok` is consumed only via
  inter: JOIN tok ta ON ta.doc_id = p.doc_a / tb.doc_id = p.doc_b
  sizes: joined to inter on sa.doc_id = i.doc_a / sb.doc_id = i.doc_b
and inter's doc_a/doc_b come from `pairs` — so every consumed `tok` /
`sizes` row has doc_id in (SELECT doc_a FROM pairs UNION SELECT doc_b
FROM pairs). Restricting tok to that set changes no consumed row, hence
no result row. Every other stage is the oracle text verbatim; `sig` is
evaluated in a single pass (its only reference), so nothing forces the
shingle stream to materialize.

Usage:
  tools/check_staged.py <sfDir> <verifyOutDir> [--json OUT.json] [query ...]

With --json pointing at an existing check.py artifact, the staged
results are MERGED into it (each record tagged "staged": true).
"""
import json, os, sys
import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import TABLES, table_source, compare

# --- oracle text, staged ----------------------------------------------------
# Stage SQL is the oracle text verbatim (same CTE bodies, same casts);
# only the materialization boundaries and the tok->tokc restriction
# differ, per the module docstring.
#
# dedup_embed gets the same treatment for a different blowup: its `bits`
# CTE joins every vector — carrying its full 64-element int list — against
# all 3,840 (band, j) hyperplane rows, a ~2 B-row stream of ~500-byte rows
# through a spilling aggregate. The staged form unnests the list once
# (32 M skinny (vec_id, pos, val) rows) and joins the hyperplane table on
# position: the summed terms h*val are INTEGERS, so the regrouped sum is
# bit-identical to the monolith's (integer addition is exact and
# order-independent), and every later stage is the oracle text verbatim.

PREFIX = """
CREATE TEMP TABLE sig AS
WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       FROM documents),
w AS (SELECT doc_id, string_split(t, ' ') AS ws, t FROM d),
shx AS (
  SELECT doc_id, unnest(
    CASE WHEN len(ws) >= 3
         THEN list_transform(range(1, len(ws) - 3 + 2),
                             i -> array_to_string(ws[i:i+2], ' '))
         ELSE [t] END) AS sh
  FROM w)
SELECT doc_id,
       MIN(CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT)) AS s0,
       MIN(CAST('0x' || substr(md5(sh), 9, 8) AS BIGINT)) AS s1,
       MIN(CAST('0x' || substr(md5(sh), 17, 8) AS BIGINT)) AS s2,
       MIN(CAST('0x' || substr(md5(sh), 25, 8) AS BIGINT)) AS s3,
       MIN(CAST('0x' || substr(md5('1:' || sh), 1, 8) AS BIGINT)) AS s4,
       MIN(CAST('0x' || substr(md5('1:' || sh), 9, 8) AS BIGINT)) AS s5,
       MIN(CAST('0x' || substr(md5('1:' || sh), 17, 8) AS BIGINT)) AS s6,
       MIN(CAST('0x' || substr(md5('1:' || sh), 25, 8) AS BIGINT)) AS s7
FROM shx GROUP BY doc_id;

CREATE TEMP TABLE pairs AS
WITH bands AS (
  SELECT doc_id, 0 AS band, md5(s0 || ':' || s1) AS bh FROM sig
  UNION ALL SELECT doc_id, 1 AS band, md5(s2 || ':' || s3) AS bh FROM sig
  UNION ALL SELECT doc_id, 2 AS band, md5(s4 || ':' || s5) AS bh FROM sig
  UNION ALL SELECT doc_id, 3 AS band, md5(s6 || ':' || s7) AS bh FROM sig)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
WHERE a.doc_id < b.doc_id;

CREATE TEMP TABLE tokc AS
WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       FROM documents
       WHERE doc_id IN (SELECT doc_a FROM pairs UNION SELECT doc_b FROM pairs)),
w AS (SELECT doc_id, string_split(t, ' ') AS ws, t FROM d),
shx AS (
  SELECT doc_id, unnest(
    CASE WHEN len(ws) >= 3
         THEN list_transform(range(1, len(ws) - 3 + 2),
                             i -> array_to_string(ws[i:i+2], ' '))
         ELSE [t] END) AS sh
  FROM w)
SELECT DISTINCT doc_id, sh FROM shx;

CREATE TEMP TABLE verified AS
WITH sizes AS (SELECT doc_id, COUNT(*) AS n FROM tokc GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
  FROM pairs p
  JOIN tokc ta ON ta.doc_id = p.doc_a
  JOIN tokc tb ON tb.doc_id = p.doc_b AND tb.sh = ta.sh
  GROUP BY p.doc_a, p.doc_b)
SELECT i.doc_a, i.doc_b,
       CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) >= 0.5;
"""

# Planted corpus (dedup_embed_planted): every 50th vec_id replicated
# verbatim at id + 10^9 — constants pinned Scala-side by DedupSpec's
# staged-oracle pin (Dedup.PlantEvery / Dedup.PlantOffset).
PLANTED_SRC = """(SELECT vec_id, embedding FROM embeddings
   UNION ALL
   SELECT vec_id + 1000000000 AS vec_id, embedding
   FROM embeddings WHERE vec_id % 50 = 0)"""

# Decontam corpus (pipeline_decontam_embed): every BENCHMARK vector
# (salted-hash split, Decontam.isBench) replicated verbatim into the
# train side at id + 10^9 — the literal shape of eval leakage.
BENCH_PRED = "CAST('0x' || substr(md5('bench:' || vec_id), 1, 15) AS BIGINT) % 20 = 0"
DECONTAM_SRC = f"""(SELECT vec_id, embedding FROM embeddings
   UNION ALL
   SELECT vec_id + 1000000000 AS vec_id, embedding
   FROM embeddings WHERE {BENCH_PRED})"""

def decontam_final_sql(bandbits, threshold, tag, ivn="ivn"):
    return f"""
WITH benchids AS (SELECT vec_id FROM embeddings WHERE {BENCH_PRED}),
bands AS (
  SELECT vec_id, b // {bandbits} AS k,
         CAST(sum(bt * (1 << ({bandbits - 1} - (b % {bandbits})))) AS BIGINT) AS bv
  FROM ebits{tag} GROUP BY vec_id, b // {bandbits}),
cand AS (
  SELECT DISTINCT t.vec_id AS train_id, b.vec_id AS bench_id
  FROM bands t JOIN bands b ON t.k = b.k AND t.bv = b.bv
  WHERE b.vec_id IN (SELECT vec_id FROM benchids)
    AND (t.vec_id >= 1000000000
         OR t.vec_id NOT IN (SELECT vec_id FROM benchids))),
verified AS (
  SELECT c.train_id, c.bench_id,
         CAST(CAST(list_sum(list_transform(list_zip(x.ie, y.ie), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
           / (x.nrm * y.nrm) AS cosine
  FROM cand c JOIN {ivn} x ON x.vec_id = c.train_id JOIN {ivn} y ON y.vec_id = c.bench_id)
SELECT train_id, bench_id, cosine FROM verified
WHERE cosine >= {threshold} ORDER BY train_id, bench_id"""

def embed_ivn_sql(tbl, source):
    return f"""
CREATE TEMP TABLE IF NOT EXISTS {tbl} AS
WITH iv AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS ie
  FROM {source})
SELECT vec_id, ie,
       sqrt(CAST(CAST(list_sum(list_transform(ie, x -> x * x)) AS BIGINT) AS DOUBLE)) AS nrm
FROM iv;
"""

def embed_bits_sql(bits, tag, ivn="ivn"):
    return f"""
CREATE TEMP TABLE ebits{tag} AS
WITH hyper AS (
  SELECT b, j, CASE WHEN substr(md5('rp:' || b || ':' || j), 1, 1)
                    IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END AS h
  FROM range({bits}) t(b), range(64) u(j)),
flat AS (
  SELECT vec_id, t.j, ie[t.j + 1] AS val
  FROM {ivn}, range(64) t(j))
SELECT f.vec_id, hp.b,
       CASE WHEN sum(hp.h * f.val) >= 0 THEN 1 ELSE 0 END AS bt
FROM flat f JOIN hyper hp ON hp.j = f.j
GROUP BY f.vec_id, hp.b;
"""

def embed_final_sql(bandbits, threshold, tag, ivn="ivn"):
    return f"""
WITH bands AS (
  SELECT vec_id, b // {bandbits} AS k,
         CAST(sum(bt * (1 << ({bandbits - 1} - (b % {bandbits})))) AS BIGINT) AS bv
  FROM ebits{tag} GROUP BY vec_id, b // {bandbits}),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a JOIN bands b ON a.k = b.k AND a.bv = b.bv AND a.vec_id < b.vec_id),
verified AS (
  SELECT c.a_id, c.b_id,
         CAST(CAST(list_sum(list_transform(list_zip(x.ie, y.ie), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
           / (x.nrm * y.nrm) AS cosine
  FROM cand c JOIN {ivn} x ON x.vec_id = c.a_id JOIN {ivn} y ON y.vec_id = c.b_id)
SELECT a_id, b_id, cosine FROM verified
WHERE cosine >= {threshold} ORDER BY a_id, b_id"""


# --- dedup_simhash, staged --------------------------------------------------
# CONSTANTS PIN (ADVICE r9): this SQL hardcodes the Scala-side constants
# of src/main/scala/graft/operators/Dedup.scala — SimhashBits=60 (15-hex
# md5 arms), SimhashChunks=7 with chunkSpans (0,9)(9,9)(18,9)(27,9)
# (36,8)(44,8)(52,8), HammingMax=6, ShingleK=3 — and the shared shingle
# prefix above hardcodes ShingleK=3. DedupSpec's "staged-oracle constants
# pin" test asserts those exact values on the Scala side, so a constant
# change there fails the suite and points here instead of silently
# desyncing this staged oracle.
#
# Oracle text verbatim through `fps`; the one transformation is pushing
# the `hamming <= 6` filter INSIDE the DISTINCT: hamming is a pure
# function of the selected tuple (doc_a, doc_b, hamming), so
# DISTINCT(filter(S)) = filter(DISTINCT(S)) row-for-row. The monolith
# materializes the full chunk-join stream as the DISTINCT aggregate's
# input (>78 GB temp at sf10 -> ENOSPC); filtered first, the distinct
# table holds only true near-dup pairs.
SIMHASH_PREFIX = """
CREATE TEMP TABLE fps AS
WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       FROM documents),
w AS (SELECT doc_id, string_split(t, ' ') AS ws, t FROM d),
shx AS (
  SELECT doc_id, unnest(
    CASE WHEN len(ws) >= 3
         THEN list_transform(range(1, len(ws) - 3 + 2),
                             i -> array_to_string(ws[i:i+2], ' '))
         ELSE [t] END) AS sh
  FROM w),
tok AS (SELECT DISTINCT doc_id, sh AS tok FROM shx),
th AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
counts AS (
  SELECT doc_id,
         SUM(CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b0,
         SUM(CASE WHEN (h >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b1,
         SUM(CASE WHEN (h >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b2,
         SUM(CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b3,
         SUM(CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b4,
         SUM(CASE WHEN (h >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b5,
         SUM(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b6,
         SUM(CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b7,
         SUM(CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b8,
         SUM(CASE WHEN (h >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b9,
         SUM(CASE WHEN (h >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b10,
         SUM(CASE WHEN (h >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b11,
         SUM(CASE WHEN (h >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b12,
         SUM(CASE WHEN (h >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b13,
         SUM(CASE WHEN (h >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b14,
         SUM(CASE WHEN (h >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b15,
         SUM(CASE WHEN (h >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS b16,
         SUM(CASE WHEN (h >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS b17,
         SUM(CASE WHEN (h >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS b18,
         SUM(CASE WHEN (h >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS b19,
         SUM(CASE WHEN (h >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS b20,
         SUM(CASE WHEN (h >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS b21,
         SUM(CASE WHEN (h >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS b22,
         SUM(CASE WHEN (h >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS b23,
         SUM(CASE WHEN (h >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS b24,
         SUM(CASE WHEN (h >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS b25,
         SUM(CASE WHEN (h >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS b26,
         SUM(CASE WHEN (h >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS b27,
         SUM(CASE WHEN (h >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS b28,
         SUM(CASE WHEN (h >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS b29,
         SUM(CASE WHEN (h >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS b30,
         SUM(CASE WHEN (h >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS b31,
         SUM(CASE WHEN (h >> 32) & 1 = 1 THEN 1 ELSE -1 END) AS b32,
         SUM(CASE WHEN (h >> 33) & 1 = 1 THEN 1 ELSE -1 END) AS b33,
         SUM(CASE WHEN (h >> 34) & 1 = 1 THEN 1 ELSE -1 END) AS b34,
         SUM(CASE WHEN (h >> 35) & 1 = 1 THEN 1 ELSE -1 END) AS b35,
         SUM(CASE WHEN (h >> 36) & 1 = 1 THEN 1 ELSE -1 END) AS b36,
         SUM(CASE WHEN (h >> 37) & 1 = 1 THEN 1 ELSE -1 END) AS b37,
         SUM(CASE WHEN (h >> 38) & 1 = 1 THEN 1 ELSE -1 END) AS b38,
         SUM(CASE WHEN (h >> 39) & 1 = 1 THEN 1 ELSE -1 END) AS b39,
         SUM(CASE WHEN (h >> 40) & 1 = 1 THEN 1 ELSE -1 END) AS b40,
         SUM(CASE WHEN (h >> 41) & 1 = 1 THEN 1 ELSE -1 END) AS b41,
         SUM(CASE WHEN (h >> 42) & 1 = 1 THEN 1 ELSE -1 END) AS b42,
         SUM(CASE WHEN (h >> 43) & 1 = 1 THEN 1 ELSE -1 END) AS b43,
         SUM(CASE WHEN (h >> 44) & 1 = 1 THEN 1 ELSE -1 END) AS b44,
         SUM(CASE WHEN (h >> 45) & 1 = 1 THEN 1 ELSE -1 END) AS b45,
         SUM(CASE WHEN (h >> 46) & 1 = 1 THEN 1 ELSE -1 END) AS b46,
         SUM(CASE WHEN (h >> 47) & 1 = 1 THEN 1 ELSE -1 END) AS b47,
         SUM(CASE WHEN (h >> 48) & 1 = 1 THEN 1 ELSE -1 END) AS b48,
         SUM(CASE WHEN (h >> 49) & 1 = 1 THEN 1 ELSE -1 END) AS b49,
         SUM(CASE WHEN (h >> 50) & 1 = 1 THEN 1 ELSE -1 END) AS b50,
         SUM(CASE WHEN (h >> 51) & 1 = 1 THEN 1 ELSE -1 END) AS b51,
         SUM(CASE WHEN (h >> 52) & 1 = 1 THEN 1 ELSE -1 END) AS b52,
         SUM(CASE WHEN (h >> 53) & 1 = 1 THEN 1 ELSE -1 END) AS b53,
         SUM(CASE WHEN (h >> 54) & 1 = 1 THEN 1 ELSE -1 END) AS b54,
         SUM(CASE WHEN (h >> 55) & 1 = 1 THEN 1 ELSE -1 END) AS b55,
         SUM(CASE WHEN (h >> 56) & 1 = 1 THEN 1 ELSE -1 END) AS b56,
         SUM(CASE WHEN (h >> 57) & 1 = 1 THEN 1 ELSE -1 END) AS b57,
         SUM(CASE WHEN (h >> 58) & 1 = 1 THEN 1 ELSE -1 END) AS b58,
         SUM(CASE WHEN (h >> 59) & 1 = 1 THEN 1 ELSE -1 END) AS b59
  FROM th GROUP BY doc_id)
SELECT doc_id, CASE WHEN b0 > 0 THEN 1 ELSE 0 END + CASE WHEN b1 > 0 THEN 2 ELSE 0 END + CASE WHEN b2 > 0 THEN 4 ELSE 0 END + CASE WHEN b3 > 0 THEN 8 ELSE 0 END + CASE WHEN b4 > 0 THEN 16 ELSE 0 END + CASE WHEN b5 > 0 THEN 32 ELSE 0 END + CASE WHEN b6 > 0 THEN 64 ELSE 0 END + CASE WHEN b7 > 0 THEN 128 ELSE 0 END + CASE WHEN b8 > 0 THEN 256 ELSE 0 END + CASE WHEN b9 > 0 THEN 512 ELSE 0 END + CASE WHEN b10 > 0 THEN 1024 ELSE 0 END + CASE WHEN b11 > 0 THEN 2048 ELSE 0 END + CASE WHEN b12 > 0 THEN 4096 ELSE 0 END + CASE WHEN b13 > 0 THEN 8192 ELSE 0 END + CASE WHEN b14 > 0 THEN 16384 ELSE 0 END + CASE WHEN b15 > 0 THEN 32768 ELSE 0 END + CASE WHEN b16 > 0 THEN 65536 ELSE 0 END + CASE WHEN b17 > 0 THEN 131072 ELSE 0 END + CASE WHEN b18 > 0 THEN 262144 ELSE 0 END + CASE WHEN b19 > 0 THEN 524288 ELSE 0 END + CASE WHEN b20 > 0 THEN 1048576 ELSE 0 END + CASE WHEN b21 > 0 THEN 2097152 ELSE 0 END + CASE WHEN b22 > 0 THEN 4194304 ELSE 0 END + CASE WHEN b23 > 0 THEN 8388608 ELSE 0 END + CASE WHEN b24 > 0 THEN 16777216 ELSE 0 END + CASE WHEN b25 > 0 THEN 33554432 ELSE 0 END + CASE WHEN b26 > 0 THEN 67108864 ELSE 0 END + CASE WHEN b27 > 0 THEN 134217728 ELSE 0 END + CASE WHEN b28 > 0 THEN 268435456 ELSE 0 END + CASE WHEN b29 > 0 THEN 536870912 ELSE 0 END + CASE WHEN b30 > 0 THEN 1073741824 ELSE 0 END + CASE WHEN b31 > 0 THEN 2147483648 ELSE 0 END + CASE WHEN b32 > 0 THEN 4294967296 ELSE 0 END + CASE WHEN b33 > 0 THEN 8589934592 ELSE 0 END + CASE WHEN b34 > 0 THEN 17179869184 ELSE 0 END + CASE WHEN b35 > 0 THEN 34359738368 ELSE 0 END + CASE WHEN b36 > 0 THEN 68719476736 ELSE 0 END + CASE WHEN b37 > 0 THEN 137438953472 ELSE 0 END + CASE WHEN b38 > 0 THEN 274877906944 ELSE 0 END + CASE WHEN b39 > 0 THEN 549755813888 ELSE 0 END + CASE WHEN b40 > 0 THEN 1099511627776 ELSE 0 END + CASE WHEN b41 > 0 THEN 2199023255552 ELSE 0 END + CASE WHEN b42 > 0 THEN 4398046511104 ELSE 0 END + CASE WHEN b43 > 0 THEN 8796093022208 ELSE 0 END + CASE WHEN b44 > 0 THEN 17592186044416 ELSE 0 END + CASE WHEN b45 > 0 THEN 35184372088832 ELSE 0 END + CASE WHEN b46 > 0 THEN 70368744177664 ELSE 0 END + CASE WHEN b47 > 0 THEN 140737488355328 ELSE 0 END + CASE WHEN b48 > 0 THEN 281474976710656 ELSE 0 END + CASE WHEN b49 > 0 THEN 562949953421312 ELSE 0 END + CASE WHEN b50 > 0 THEN 1125899906842624 ELSE 0 END + CASE WHEN b51 > 0 THEN 2251799813685248 ELSE 0 END + CASE WHEN b52 > 0 THEN 4503599627370496 ELSE 0 END + CASE WHEN b53 > 0 THEN 9007199254740992 ELSE 0 END + CASE WHEN b54 > 0 THEN 18014398509481984 ELSE 0 END + CASE WHEN b55 > 0 THEN 36028797018963968 ELSE 0 END + CASE WHEN b56 > 0 THEN 72057594037927936 ELSE 0 END + CASE WHEN b57 > 0 THEN 144115188075855872 ELSE 0 END + CASE WHEN b58 > 0 THEN 288230376151711744 ELSE 0 END + CASE WHEN b59 > 0 THEN 576460752303423488 ELSE 0 END AS fp FROM counts;
"""

SIMHASH_FINAL = """
WITH chunks AS (
  SELECT doc_id, fp, 0 AS chunk, (fp >> 0) & 511 AS cv FROM fps
  UNION ALL SELECT doc_id, fp, 1 AS chunk, (fp >> 9) & 511 AS cv FROM fps
  UNION ALL SELECT doc_id, fp, 2 AS chunk, (fp >> 18) & 511 AS cv FROM fps
  UNION ALL SELECT doc_id, fp, 3 AS chunk, (fp >> 27) & 511 AS cv FROM fps
  UNION ALL SELECT doc_id, fp, 4 AS chunk, (fp >> 36) & 255 AS cv FROM fps
  UNION ALL SELECT doc_id, fp, 5 AS chunk, (fp >> 44) & 255 AS cv FROM fps
  UNION ALL SELECT doc_id, fp, 6 AS chunk, (fp >> 52) & 255 AS cv FROM fps),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.fp, b.fp)) AS hamming
  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.cv = b.cv
  WHERE a.doc_id < b.doc_id
    AND bit_count(xor(a.fp, b.fp)) <= 6)
SELECT doc_a, doc_b, hamming FROM pairs
ORDER BY doc_a, doc_b"""

CC = """
WITH RECURSIVE
cedges AS (SELECT doc_a AS a, doc_b AS b FROM verified
           UNION SELECT doc_b, doc_a FROM verified),
cnodes AS (SELECT DISTINCT a AS v FROM cedges),
reach AS (
  SELECT v AS src, v AS dst FROM cnodes
  UNION
  SELECT r.src, e.b AS dst FROM reach r JOIN cedges e ON e.a = r.dst),
cc AS (SELECT src AS doc_id, MIN(dst) AS canonical_id FROM reach GROUP BY src)
"""

FINALS = {
    "dedup_jaccard": """
SELECT doc_a, doc_b, jaccard FROM verified
ORDER BY doc_a, doc_b""",
    "dedup_clusters": CC + """,
csize AS (SELECT canonical_id, COUNT(*) AS n_members FROM cc GROUP BY canonical_id)
SELECT doc_id, canonical_id, n_members
FROM cc JOIN csize USING (canonical_id) ORDER BY doc_id""",
    # dedup_embed (demo banding) retired from the declared surface in r10
    "dedup_simhash": SIMHASH_FINAL,
    "dedup_embed_scaled": embed_final_sql(16, 0.95, 128),
    "dedup_embed_planted": embed_final_sql(16, 0.95, "p128", ivn="ivnp"),
    "pipeline_decontam_embed": decontam_final_sql(16, 0.95, "d128", ivn="ivnd"),
    "pipeline_curate": CC + """,
noncanon AS (SELECT doc_id FROM cc WHERE doc_id <> canonical_id),
d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       FROM documents),
fp AS (SELECT doc_id, md5(t) AS f FROM d),
canon AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
qd AS (
  SELECT doc_id, text, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS qt
  FROM documents),
qbase AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(qt, ' ')) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(qt, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(string_split(qt, ' '), w -> w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT) AS n_stop
  FROM qd),
qual AS (
  SELECT doc_id,
         (CASE WHEN n_words BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END
        + CASE WHEN CAST(n_stop AS DOUBLE) / n_words >= 0.01 THEN 0.3 ELSE 0.0 END
        + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars <= 0.1 THEN 0.3 ELSE 0.0 END) AS quality
  FROM qbase),
rates(lang, rate) AS (VALUES ('en', 8000), ('de', 5000), ('fr', 5000), ('es', 2500), ('zh', 2500)),
keyed AS (
  SELECT doc_id, lang, CAST('0x' || substr(md5('sample:' || doc_id), 1, 15) AS BIGINT) % 10000 AS bucket
  FROM documents)
SELECT k.doc_id, k.lang, q.quality, k.bucket
FROM keyed k
JOIN canon c ON c.doc_id = k.doc_id
JOIN qual q ON q.doc_id = k.doc_id
JOIN rates r ON r.lang = k.lang
WHERE NOT EXISTS (SELECT 1 FROM noncanon n WHERE n.doc_id = k.doc_id)
  AND q.quality >= 0.7
  AND k.bucket < r.rate
ORDER BY k.doc_id""",
}


def main():
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i:i + 2]
    sf_dir, out_dir = args[0], args[1]
    names = args[2:] or sorted(FINALS)
    unknown = [n for n in names if n not in FINALS]
    if unknown:
        sys.exit(f"no staged oracle for: {unknown}; have {sorted(FINALS)}")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order = false")
    con.execute(f"SET memory_limit = '{os.environ.get('CHECK_MEM', '100GB')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {table_source(sf_dir, t)}")

    embed_variants = {
        "dedup_embed_scaled": (128, "128", "ivn", "embeddings"),
        "dedup_embed_planted": (128, "p128", "ivnp", PLANTED_SRC),
        "pipeline_decontam_embed": (128, "d128", "ivnd", DECONTAM_SRC),
    }
    solo = set(embed_variants) | {"dedup_simhash"}
    if any(n not in solo for n in names):
        print("staging shingle prefix (sig/pairs/tokc/verified)...", flush=True)
        con.execute(PREFIX)
        for t in ("sig", "pairs", "tokc", "verified"):
            n = con.sql(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
            print(f"  {t}: {n} rows", flush=True)
    if "dedup_simhash" in names:
        print("staging simhash prefix (fps)...", flush=True)
        con.execute(SIMHASH_PREFIX)
        n = con.sql("SELECT COUNT(*) FROM fps").fetchone()[0]
        print(f"  fps: {n} rows", flush=True)
    for name, (bits, tag, ivn_tbl, src) in embed_variants.items():
        if name in names:
            print(f"staging embed prefix ({ivn_tbl}/ebits{tag})...", flush=True)
            con.execute(embed_ivn_sql(ivn_tbl, src))
            con.execute(embed_bits_sql(bits, tag, ivn_tbl))
            for tb in (ivn_tbl, f"ebits{tag}"):
                n = con.sql(f"SELECT COUNT(*) FROM {tb}").fetchone()[0]
                print(f"  {tb}: {n} rows", flush=True)

    report = {}
    n_fail = 0
    for name in names:
        rec = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None,
               "sf": sf_dir, "staged": True}
        report[name] = rec
        want = con.sql(FINALS[name]).df()
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        except Exception as e:
            rec["err"] = f"spark output missing: {e}"
            print(f"FAIL {name}: {rec['err']}")
            n_fail += 1
            continue
        rec["spark_rows"], rec["oracle_rows"] = len(got), len(want)
        ok, msg = compare(want, got)
        rec["rows_match"] = len(want) == len(got)
        rec["schema_match"] = sorted(want.columns) == sorted(got.columns)
        rec["hash_match"] = ok
        if ok:
            print(f"PASS {name} ({len(got)} rows, staged oracle)")
        else:
            n_fail += 1
            rec["err"] = msg
            print(f"FAIL {name}: {msg}")

    if json_out:
        merged = {}
        if os.path.exists(json_out):
            merged = json.load(open(json_out))
        merged.update(report)
        with open(json_out, "w") as f:
            json.dump(merged, f, indent=2, sort_keys=True)
        print(f"merged {len(report)} staged records into {json_out}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
