"""Evaluation-metric corpus queries: reference-based text grading.

Round-11 addition to SURVEY §2.4's pipeline layer (the reference repo
has no eval surface; training pipelines grade model outputs against
references — eval harnesses, distillation QA, MT corpus filtering).

The face needs deterministic (candidate, reference) pairs that every
scale factor has, so it derives them from ``documents`` itself:
reference = the document's own token stream, candidate = the same
stream with every 7th token dropped (0-based positions ≡ 3 mod 7) —
a known corruption whose BLEU is a meaningful, replayable number
(unigram precision stays 1.0, higher orders lose every n-gram that
straddled a dropped token, and the brevity penalty prices the ~14%
length loss).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import evalmetrics
from .registry import register
from .util import table

_BLEU_ORACLE = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id, rt,
         list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 7 <> 3),
           i -> rt[i]) AS ct
  FROM base
),
ns(n) AS (VALUES (1), (2), (3), (4)),
cg AS (
  SELECT doc_id, ns.n AS n,
         array_to_string(ct[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(ct) - ns.n + 2, 1))) AS u(i)
),
rg AS (
  SELECT doc_id, ns.n AS n,
         array_to_string(rt[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(rt) - ns.n + 2, 1))) AS u(i)
),
cc AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM cg GROUP BY doc_id, n, gram
),
rc AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, n, gram
),
m AS (
  SELECT cc.n, CAST(SUM(LEAST(cc.c, rc.c)) AS BIGINT) AS matched
  FROM cc JOIN rc ON rc.doc_id = cc.doc_id AND rc.n = cc.n
                 AND rc.gram = cc.gram
  GROUP BY cc.n
),
t AS (SELECT n, CAST(SUM(c) AS BIGINT) AS total FROM cc GROUP BY n),
rl AS (SELECT CAST(SUM(c) AS BIGINT) AS ref_len FROM rc WHERE n = 1),
flat AS (
  SELECT
    MAX(CASE WHEN t.n = 1 THEN t.total END) AS total_1,
    MAX(CASE WHEN t.n = 2 THEN t.total END) AS total_2,
    MAX(CASE WHEN t.n = 3 THEN t.total END) AS total_3,
    MAX(CASE WHEN t.n = 4 THEN t.total END) AS total_4,
    COALESCE(MAX(CASE WHEN t.n = 1 THEN m.matched END), 0) AS matched_1,
    COALESCE(MAX(CASE WHEN t.n = 2 THEN m.matched END), 0) AS matched_2,
    COALESCE(MAX(CASE WHEN t.n = 3 THEN m.matched END), 0) AS matched_3,
    COALESCE(MAX(CASE WHEN t.n = 4 THEN m.matched END), 0) AS matched_4,
    (SELECT ref_len FROM rl) AS ref_len
  FROM t LEFT JOIN m ON m.n = t.n
),
calc AS (
  SELECT *,
    (matched_1 = 0 OR total_1 = 0 OR matched_2 = 0 OR total_2 = 0
     OR matched_3 = 0 OR total_3 = 0
     OR matched_4 = 0 OR total_4 = 0) AS any_zero,
    CAST(FLOOR(ROUND(LN(CASE WHEN matched_1 = 0 OR total_1 = 0 THEN 1.0
        ELSE CAST(matched_1 AS DOUBLE) / CAST(total_1 AS DOUBLE) END), 6)
        * 1000000 + 0.5) AS BIGINT)
    + CAST(FLOOR(ROUND(LN(CASE WHEN matched_2 = 0 OR total_2 = 0 THEN 1.0
        ELSE CAST(matched_2 AS DOUBLE) / CAST(total_2 AS DOUBLE) END), 6)
        * 1000000 + 0.5) AS BIGINT)
    + CAST(FLOOR(ROUND(LN(CASE WHEN matched_3 = 0 OR total_3 = 0 THEN 1.0
        ELSE CAST(matched_3 AS DOUBLE) / CAST(total_3 AS DOUBLE) END), 6)
        * 1000000 + 0.5) AS BIGINT)
    + CAST(FLOOR(ROUND(LN(CASE WHEN matched_4 = 0 OR total_4 = 0 THEN 1.0
        ELSE CAST(matched_4 AS DOUBLE) / CAST(total_4 AS DOUBLE) END), 6)
        * 1000000 + 0.5) AS BIGINT) AS micro,
    CASE WHEN total_1 >= ref_len THEN CAST(1.0 AS DOUBLE)
         ELSE ROUND(EXP(1.0 - CAST(ref_len AS DOUBLE)
                        / CAST(total_1 AS DOUBLE)), 6) END AS bp_raw
  FROM flat
)
SELECT
  total_1 AS cand_len, ref_len,
  matched_1, total_1,
  CASE WHEN total_1 = 0 THEN 0.0
       ELSE CAST(matched_1 AS DOUBLE) / CAST(total_1 AS DOUBLE) END AS p_1,
  matched_2, total_2,
  CASE WHEN total_2 = 0 THEN 0.0
       ELSE CAST(matched_2 AS DOUBLE) / CAST(total_2 AS DOUBLE) END AS p_2,
  matched_3, total_3,
  CASE WHEN total_3 = 0 THEN 0.0
       ELSE CAST(matched_3 AS DOUBLE) / CAST(total_3 AS DOUBLE) END AS p_3,
  matched_4, total_4,
  CASE WHEN total_4 = 0 THEN 0.0
       ELSE CAST(matched_4 AS DOUBLE) / CAST(total_4 AS DOUBLE) END AS p_4,
  CASE WHEN any_zero OR total_1 = 0 THEN 0.0 ELSE bp_raw END AS bp6,
  CASE WHEN any_zero OR total_1 = 0 THEN 0.0
       ELSE ROUND(bp_raw
                  * ROUND(EXP(CAST(micro AS DOUBLE) / 4000000.0), 6), 6)
  END AS bleu6
FROM calc
"""


@register(
    "pipe_eval_bleu",
    oracle=_BLEU_ORACLE,
    doc="corpus-level BLEU (evalmetrics.corpus_bleu, Papineni 2002): "
    "clipped n-gram precisions n=1..4 summed over ALL pairs, geometric "
    "mean, brevity penalty — the reference-based grading step of eval "
    "harnesses and distillation QA.  Pairs are deterministic: "
    "reference = each document's token stream, candidate = the same "
    "stream with every 7th token dropped.  Clipping never leaves its "
    "row: JVM tokenization feeds an Arrow-batched mapInPandas that "
    "multiset-min-counts each pair row-locally and folds every "
    "partition to 4 partial rows — the metric's only exchange is a "
    "4-row merge (three designs pinned by measurement: 114.2 / 43.6 / "
    "1.9 s at sf0.1).  Integer counts; each p_n is one IEEE division; "
    "log-mean folds FLOOR(ROUND(LN,6)*1e6+0.5) micro-nats as BIGINT; "
    "bleu6 = ROUND(bp6 * ROUND(EXP(mean),6), 6) — hash-exact",
)
def pipe_eval_bleu(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    pairs = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.filter(rt, lambda x, i: i % F.lit(7) != F.lit(3)),
        ).alias("cand"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.corpus_bleu(pairs, "doc_id", "cand", "ref", max_n=4)


_BLEU_BY_SYSTEM_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'drop5'
              WHEN doc_id % 3 = 1 THEN 'drop7'
              ELSE 'drop11' END AS system,
         CASE WHEN doc_id % 3 = 0 THEN 5
              WHEN doc_id % 3 = 1 THEN 7
              ELSE 11 END AS m,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id, system, rt,
         list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % m <> 3),
           i -> rt[i]) AS ct
  FROM base
),
ns(n) AS (VALUES (1), (2), (3), (4)),
cg AS (
  SELECT doc_id, system, ns.n AS n,
         array_to_string(ct[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(ct) - ns.n + 2, 1))) AS u(i)
),
rg AS (
  SELECT doc_id, system, ns.n AS n,
         array_to_string(rt[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(rt) - ns.n + 2, 1))) AS u(i)
),
cc AS MATERIALIZED (
  SELECT doc_id, system, n, gram, COUNT(*) AS c
  FROM cg GROUP BY doc_id, system, n, gram
),
rc AS MATERIALIZED (
  SELECT doc_id, system, n, gram, COUNT(*) AS c
  FROM rg GROUP BY doc_id, system, n, gram
),
m AS (
  SELECT cc.system, cc.n, CAST(SUM(LEAST(cc.c, rc.c)) AS BIGINT) AS matched
  FROM cc JOIN rc ON rc.doc_id = cc.doc_id AND rc.n = cc.n
                 AND rc.gram = cc.gram
  GROUP BY cc.system, cc.n
),
t AS (
  SELECT system, n, CAST(SUM(c) AS BIGINT) AS total
  FROM cc GROUP BY system, n
),
rl AS (
  SELECT system, CAST(SUM(c) AS BIGINT) AS ref_len
  FROM rc WHERE n = 1 GROUP BY system
),
flat AS (
  SELECT t.system,
    MAX(CASE WHEN t.n = 1 THEN t.total END) AS total_1,
    MAX(CASE WHEN t.n = 2 THEN t.total END) AS total_2,
    MAX(CASE WHEN t.n = 3 THEN t.total END) AS total_3,
    MAX(CASE WHEN t.n = 4 THEN t.total END) AS total_4,
    COALESCE(MAX(CASE WHEN t.n = 1 THEN m.matched END), 0) AS matched_1,
    COALESCE(MAX(CASE WHEN t.n = 2 THEN m.matched END), 0) AS matched_2,
    COALESCE(MAX(CASE WHEN t.n = 3 THEN m.matched END), 0) AS matched_3,
    COALESCE(MAX(CASE WHEN t.n = 4 THEN m.matched END), 0) AS matched_4,
    MAX(rl.ref_len) AS ref_len
  FROM t
  LEFT JOIN m ON m.system = t.system AND m.n = t.n
  JOIN rl ON rl.system = t.system
  GROUP BY t.system
),
calc AS (
  SELECT *,
    (matched_1 = 0 OR total_1 = 0 OR matched_2 = 0 OR total_2 = 0
     OR matched_3 = 0 OR total_3 = 0
     OR matched_4 = 0 OR total_4 = 0) AS any_zero,
    CAST(FLOOR(ROUND(LN(CASE WHEN matched_1 = 0 OR total_1 = 0 THEN 1.0
        ELSE CAST(matched_1 AS DOUBLE) / CAST(total_1 AS DOUBLE) END), 6)
        * 1000000 + 0.5) AS BIGINT)
    + CAST(FLOOR(ROUND(LN(CASE WHEN matched_2 = 0 OR total_2 = 0 THEN 1.0
        ELSE CAST(matched_2 AS DOUBLE) / CAST(total_2 AS DOUBLE) END), 6)
        * 1000000 + 0.5) AS BIGINT)
    + CAST(FLOOR(ROUND(LN(CASE WHEN matched_3 = 0 OR total_3 = 0 THEN 1.0
        ELSE CAST(matched_3 AS DOUBLE) / CAST(total_3 AS DOUBLE) END), 6)
        * 1000000 + 0.5) AS BIGINT)
    + CAST(FLOOR(ROUND(LN(CASE WHEN matched_4 = 0 OR total_4 = 0 THEN 1.0
        ELSE CAST(matched_4 AS DOUBLE) / CAST(total_4 AS DOUBLE) END), 6)
        * 1000000 + 0.5) AS BIGINT) AS micro,
    CASE WHEN total_1 >= ref_len THEN CAST(1.0 AS DOUBLE)
         ELSE ROUND(EXP(1.0 - CAST(ref_len AS DOUBLE)
                        / CAST(total_1 AS DOUBLE)), 6) END AS bp_raw
  FROM flat
)
SELECT
  system,
  total_1 AS cand_len, ref_len,
  matched_1, total_1,
  CASE WHEN total_1 = 0 THEN 0.0
       ELSE CAST(matched_1 AS DOUBLE) / CAST(total_1 AS DOUBLE) END AS p_1,
  matched_2, total_2,
  CASE WHEN total_2 = 0 THEN 0.0
       ELSE CAST(matched_2 AS DOUBLE) / CAST(total_2 AS DOUBLE) END AS p_2,
  matched_3, total_3,
  CASE WHEN total_3 = 0 THEN 0.0
       ELSE CAST(matched_3 AS DOUBLE) / CAST(total_3 AS DOUBLE) END AS p_3,
  matched_4, total_4,
  CASE WHEN total_4 = 0 THEN 0.0
       ELSE CAST(matched_4 AS DOUBLE) / CAST(total_4 AS DOUBLE) END AS p_4,
  CASE WHEN any_zero OR total_1 = 0 THEN 0.0 ELSE bp_raw END AS bp6,
  CASE WHEN any_zero OR total_1 = 0 THEN 0.0
       ELSE ROUND(bp_raw
                  * ROUND(EXP(CAST(micro AS DOUBLE) / 4000000.0), 6), 6)
  END AS bleu6
FROM calc
"""


@register(
    "pipe_eval_bleu_by_system",
    oracle=_BLEU_BY_SYSTEM_ORACLE,
    doc="corpus BLEU PER SYSTEM (evalmetrics.corpus_bleu_by_group): the "
    "multi-model eval-harness shape — grade N systems' outputs against "
    "shared references in ONE pass, one row per system.  Systems are "
    "deterministic: doc_id%3 picks a corruption severity (drop every "
    "5th / 7th / 11th token of the document's own stream), so the "
    "three BLEU rows RANK the systems — milder corruption must score "
    "higher.  The group-keyed Arrow fold still counts each pair "
    "row-locally and emits 4 partial rows per system per partition "
    "(the exchange is O(systems*4*partitions) rows whatever the "
    "corpus); the finisher is the single-system IEEE expression under "
    "a groupBy — hash-exact, same micro-nat fold as pipe_eval_bleu",
)
def pipe_eval_bleu_by_system(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    mod3 = F.col("doc_id") % 3
    m = (
        F.when(mod3 == 0, F.lit(5))
        .when(mod3 == 1, F.lit(7))
        .otherwise(F.lit(11))
    )
    system = (
        F.when(mod3 == 0, "drop5").when(mod3 == 1, "drop7").otherwise("drop11")
    )
    pairs = d.select(
        "doc_id",
        system.alias("system"),
        F.concat_ws(
            " ",
            F.filter(rt, lambda x, i: i % m != F.lit(3)),
        ).alias("cand"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.corpus_bleu_by_group(
        pairs, "system", "doc_id", "cand", "ref", max_n=4
    )


_CHRF_ORACLE = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id,
         regexp_replace(array_to_string(list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 7 <> 3),
           i -> rt[i]), ' '), '\\s+', '', 'g') AS cs,
         regexp_replace(array_to_string(rt, ' '), '\\s+', '', 'g') AS rs
  FROM base
),
ns(n) AS (VALUES (1), (2), (3), (4), (5), (6)),
cg AS (
  SELECT doc_id, ns.n AS n, substr(cs, CAST(u.i AS INT), ns.n) AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(cs) - ns.n + 2, 1))) AS u(i)
),
rg AS (
  SELECT doc_id, ns.n AS n, substr(rs, CAST(u.i AS INT), ns.n) AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(rs) - ns.n + 2, 1))) AS u(i)
),
cc AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM cg GROUP BY doc_id, n, gram
),
rc AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, n, gram
),
m AS (
  SELECT cc.n, CAST(SUM(LEAST(cc.c, rc.c)) AS BIGINT) AS matched
  FROM cc JOIN rc ON rc.doc_id = cc.doc_id AND rc.n = cc.n
                 AND rc.gram = cc.gram
  GROUP BY cc.n
),
ct AS (SELECT n, CAST(SUM(c) AS BIGINT) AS total FROM cc GROUP BY n),
rr AS (SELECT n, CAST(SUM(c) AS BIGINT) AS total FROM rc GROUP BY n),
flat AS (
  SELECT
    COALESCE(MAX(CASE WHEN ct.n = 1 THEN m.matched END), 0) AS matched_1,
    COALESCE(MAX(CASE WHEN ct.n = 2 THEN m.matched END), 0) AS matched_2,
    COALESCE(MAX(CASE WHEN ct.n = 3 THEN m.matched END), 0) AS matched_3,
    COALESCE(MAX(CASE WHEN ct.n = 4 THEN m.matched END), 0) AS matched_4,
    COALESCE(MAX(CASE WHEN ct.n = 5 THEN m.matched END), 0) AS matched_5,
    COALESCE(MAX(CASE WHEN ct.n = 6 THEN m.matched END), 0) AS matched_6,
    COALESCE(MAX(CASE WHEN ct.n = 1 THEN ct.total END), 0) AS cand_1,
    COALESCE(MAX(CASE WHEN ct.n = 2 THEN ct.total END), 0) AS cand_2,
    COALESCE(MAX(CASE WHEN ct.n = 3 THEN ct.total END), 0) AS cand_3,
    COALESCE(MAX(CASE WHEN ct.n = 4 THEN ct.total END), 0) AS cand_4,
    COALESCE(MAX(CASE WHEN ct.n = 5 THEN ct.total END), 0) AS cand_5,
    COALESCE(MAX(CASE WHEN ct.n = 6 THEN ct.total END), 0) AS cand_6,
    COALESCE(MAX(CASE WHEN rr2.n = 1 THEN rr2.total END), 0) AS ref_1,
    COALESCE(MAX(CASE WHEN rr2.n = 2 THEN rr2.total END), 0) AS ref_2,
    COALESCE(MAX(CASE WHEN rr2.n = 3 THEN rr2.total END), 0) AS ref_3,
    COALESCE(MAX(CASE WHEN rr2.n = 4 THEN rr2.total END), 0) AS ref_4,
    COALESCE(MAX(CASE WHEN rr2.n = 5 THEN rr2.total END), 0) AS ref_5,
    COALESCE(MAX(CASE WHEN rr2.n = 6 THEN rr2.total END), 0) AS ref_6
  FROM ct
  LEFT JOIN m ON m.n = ct.n
  FULL JOIN rr AS rr2 ON rr2.n = ct.n
),
calc AS (
  SELECT *,
    (0.0
     + CASE WHEN cand_1 = 0 THEN 0.0
            ELSE CAST(matched_1 AS DOUBLE) / CAST(cand_1 AS DOUBLE) END
     + CASE WHEN cand_2 = 0 THEN 0.0
            ELSE CAST(matched_2 AS DOUBLE) / CAST(cand_2 AS DOUBLE) END
     + CASE WHEN cand_3 = 0 THEN 0.0
            ELSE CAST(matched_3 AS DOUBLE) / CAST(cand_3 AS DOUBLE) END
     + CASE WHEN cand_4 = 0 THEN 0.0
            ELSE CAST(matched_4 AS DOUBLE) / CAST(cand_4 AS DOUBLE) END
     + CASE WHEN cand_5 = 0 THEN 0.0
            ELSE CAST(matched_5 AS DOUBLE) / CAST(cand_5 AS DOUBLE) END
     + CASE WHEN cand_6 = 0 THEN 0.0
            ELSE CAST(matched_6 AS DOUBLE) / CAST(cand_6 AS DOUBLE) END
    ) / 6.0 AS chr_p,
    (0.0
     + CASE WHEN ref_1 = 0 THEN 0.0
            ELSE CAST(matched_1 AS DOUBLE) / CAST(ref_1 AS DOUBLE) END
     + CASE WHEN ref_2 = 0 THEN 0.0
            ELSE CAST(matched_2 AS DOUBLE) / CAST(ref_2 AS DOUBLE) END
     + CASE WHEN ref_3 = 0 THEN 0.0
            ELSE CAST(matched_3 AS DOUBLE) / CAST(ref_3 AS DOUBLE) END
     + CASE WHEN ref_4 = 0 THEN 0.0
            ELSE CAST(matched_4 AS DOUBLE) / CAST(ref_4 AS DOUBLE) END
     + CASE WHEN ref_5 = 0 THEN 0.0
            ELSE CAST(matched_5 AS DOUBLE) / CAST(ref_5 AS DOUBLE) END
     + CASE WHEN ref_6 = 0 THEN 0.0
            ELSE CAST(matched_6 AS DOUBLE) / CAST(ref_6 AS DOUBLE) END
    ) / 6.0 AS chr_r
  FROM flat
)
SELECT matched_1, cand_1, ref_1, matched_2, cand_2, ref_2,
       matched_3, cand_3, ref_3, matched_4, cand_4, ref_4,
       matched_5, cand_5, ref_5, matched_6, cand_6, ref_6,
       chr_p, chr_r,
       CASE WHEN 4.0 * chr_p + chr_r = 0.0 THEN 0.0
            ELSE ROUND((1.0 + 4.0) * chr_p * chr_r
                       / (4.0 * chr_p + chr_r), 6)
       END AS chrf6
FROM calc
"""


@register(
    "pipe_eval_chrf",
    oracle=_CHRF_ORACLE,
    doc="corpus-level chrF (evalmetrics.chrf_score, Popovic 2015): the "
    "character-n-gram F-beta score beside BLEU — tokenization-robust, "
    "morphology-tolerant, the second standard MT/distillation metric. "
    "Same pairs as pipe_eval_bleu (drop every 7th token), same "
    "row-local additive-cell architecture with characters for tokens "
    "(whitespace stripped, n=1..6, beta=2): no character leaves its "
    "row, the fold emits 6 partial rows per partition, the only "
    "exchange is the 6-row merge.  Integer cells; per-order ratios "
    "one IEEE division each; fixed-order mean and F combination "
    "ROUNDed at 6 — hash-exact with NO transcendentals",
)
def pipe_eval_chrf(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    pairs = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.filter(rt, lambda x, i: i % F.lit(7) != F.lit(3)),
        ).alias("cand"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.chrf_score(pairs, "doc_id", "cand", "ref")


_CHRF_BY_SYSTEM_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'drop5'
              WHEN doc_id % 3 = 1 THEN 'drop7'
              ELSE 'drop11' END AS system,
         CASE WHEN doc_id % 3 = 0 THEN 5
              WHEN doc_id % 3 = 1 THEN 7
              ELSE 11 END AS m,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id, system,
         regexp_replace(array_to_string(list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % m <> 3),
           i -> rt[i]), ' '), '\\s+', '', 'g') AS cs,
         regexp_replace(array_to_string(rt, ' '), '\\s+', '', 'g') AS rs
  FROM base
),
ns(n) AS (VALUES (1), (2), (3), (4), (5), (6)),
cg AS (
  SELECT doc_id, system, ns.n AS n,
         substr(cs, CAST(u.i AS INT), ns.n) AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(cs) - ns.n + 2, 1))) AS u(i)
),
rg AS (
  SELECT doc_id, system, ns.n AS n,
         substr(rs, CAST(u.i AS INT), ns.n) AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(rs) - ns.n + 2, 1))) AS u(i)
),
cc AS MATERIALIZED (
  SELECT doc_id, system, n, gram, COUNT(*) AS c
  FROM cg GROUP BY doc_id, system, n, gram
),
rc AS MATERIALIZED (
  SELECT doc_id, system, n, gram, COUNT(*) AS c
  FROM rg GROUP BY doc_id, system, n, gram
),
m AS (
  SELECT cc.system, cc.n, CAST(SUM(LEAST(cc.c, rc.c)) AS BIGINT) AS matched
  FROM cc JOIN rc ON rc.doc_id = cc.doc_id AND rc.n = cc.n
                 AND rc.gram = cc.gram
  GROUP BY cc.system, cc.n
),
ct AS (
  SELECT system, n, CAST(SUM(c) AS BIGINT) AS total
  FROM cc GROUP BY system, n
),
rr AS (
  SELECT system, n, CAST(SUM(c) AS BIGINT) AS total
  FROM rc GROUP BY system, n
),
flat AS (
  SELECT COALESCE(ct.system, rr2.system) AS system,
    COALESCE(MAX(CASE WHEN m.n = 1 THEN m.matched END), 0) AS matched_1,
    COALESCE(MAX(CASE WHEN m.n = 2 THEN m.matched END), 0) AS matched_2,
    COALESCE(MAX(CASE WHEN m.n = 3 THEN m.matched END), 0) AS matched_3,
    COALESCE(MAX(CASE WHEN m.n = 4 THEN m.matched END), 0) AS matched_4,
    COALESCE(MAX(CASE WHEN m.n = 5 THEN m.matched END), 0) AS matched_5,
    COALESCE(MAX(CASE WHEN m.n = 6 THEN m.matched END), 0) AS matched_6,
    COALESCE(MAX(CASE WHEN ct.n = 1 THEN ct.total END), 0) AS cand_1,
    COALESCE(MAX(CASE WHEN ct.n = 2 THEN ct.total END), 0) AS cand_2,
    COALESCE(MAX(CASE WHEN ct.n = 3 THEN ct.total END), 0) AS cand_3,
    COALESCE(MAX(CASE WHEN ct.n = 4 THEN ct.total END), 0) AS cand_4,
    COALESCE(MAX(CASE WHEN ct.n = 5 THEN ct.total END), 0) AS cand_5,
    COALESCE(MAX(CASE WHEN ct.n = 6 THEN ct.total END), 0) AS cand_6,
    COALESCE(MAX(CASE WHEN rr2.n = 1 THEN rr2.total END), 0) AS ref_1,
    COALESCE(MAX(CASE WHEN rr2.n = 2 THEN rr2.total END), 0) AS ref_2,
    COALESCE(MAX(CASE WHEN rr2.n = 3 THEN rr2.total END), 0) AS ref_3,
    COALESCE(MAX(CASE WHEN rr2.n = 4 THEN rr2.total END), 0) AS ref_4,
    COALESCE(MAX(CASE WHEN rr2.n = 5 THEN rr2.total END), 0) AS ref_5,
    COALESCE(MAX(CASE WHEN rr2.n = 6 THEN rr2.total END), 0) AS ref_6
  FROM ct
  FULL JOIN rr AS rr2 ON rr2.system = ct.system AND rr2.n = ct.n
  LEFT JOIN m ON m.system = COALESCE(ct.system, rr2.system)
             AND m.n = COALESCE(ct.n, rr2.n)
  GROUP BY COALESCE(ct.system, rr2.system)
),
calc AS (
  SELECT *,
    (0.0
     + CASE WHEN cand_1 = 0 THEN 0.0
            ELSE CAST(matched_1 AS DOUBLE) / CAST(cand_1 AS DOUBLE) END
     + CASE WHEN cand_2 = 0 THEN 0.0
            ELSE CAST(matched_2 AS DOUBLE) / CAST(cand_2 AS DOUBLE) END
     + CASE WHEN cand_3 = 0 THEN 0.0
            ELSE CAST(matched_3 AS DOUBLE) / CAST(cand_3 AS DOUBLE) END
     + CASE WHEN cand_4 = 0 THEN 0.0
            ELSE CAST(matched_4 AS DOUBLE) / CAST(cand_4 AS DOUBLE) END
     + CASE WHEN cand_5 = 0 THEN 0.0
            ELSE CAST(matched_5 AS DOUBLE) / CAST(cand_5 AS DOUBLE) END
     + CASE WHEN cand_6 = 0 THEN 0.0
            ELSE CAST(matched_6 AS DOUBLE) / CAST(cand_6 AS DOUBLE) END
    ) / 6.0 AS chr_p,
    (0.0
     + CASE WHEN ref_1 = 0 THEN 0.0
            ELSE CAST(matched_1 AS DOUBLE) / CAST(ref_1 AS DOUBLE) END
     + CASE WHEN ref_2 = 0 THEN 0.0
            ELSE CAST(matched_2 AS DOUBLE) / CAST(ref_2 AS DOUBLE) END
     + CASE WHEN ref_3 = 0 THEN 0.0
            ELSE CAST(matched_3 AS DOUBLE) / CAST(ref_3 AS DOUBLE) END
     + CASE WHEN ref_4 = 0 THEN 0.0
            ELSE CAST(matched_4 AS DOUBLE) / CAST(ref_4 AS DOUBLE) END
     + CASE WHEN ref_5 = 0 THEN 0.0
            ELSE CAST(matched_5 AS DOUBLE) / CAST(ref_5 AS DOUBLE) END
     + CASE WHEN ref_6 = 0 THEN 0.0
            ELSE CAST(matched_6 AS DOUBLE) / CAST(ref_6 AS DOUBLE) END
    ) / 6.0 AS chr_r
  FROM flat
)
SELECT system, matched_1, cand_1, ref_1, matched_2, cand_2, ref_2,
       matched_3, cand_3, ref_3, matched_4, cand_4, ref_4,
       matched_5, cand_5, ref_5, matched_6, cand_6, ref_6,
       chr_p, chr_r,
       CASE WHEN 4.0 * chr_p + chr_r = 0.0 THEN 0.0
            ELSE ROUND((1.0 + 4.0) * chr_p * chr_r
                       / (4.0 * chr_p + chr_r), 6)
       END AS chrf6
FROM calc
"""


@register(
    "pipe_eval_chrf_by_system",
    oracle=_CHRF_BY_SYSTEM_ORACLE,
    doc="corpus chrF PER SYSTEM (evalmetrics.chrf_score_by_group): the "
    "multi-model harness shape for the round's second metric, sliced "
    "exactly like pipe_eval_bleu_by_system — doc_id%3 picks a "
    "corruption severity (drop every 5th/7th/11th token), so the three "
    "chrF rows RANK the systems.  The group-keyed Arrow fold counts "
    "each pair row-locally and emits 6 partial rows per system per "
    "partition (exchange O(systems*6*partitions) rows whatever the "
    "corpus); the finisher is chrf_from_cells under a groupBy — the "
    "single-system IEEE expression verbatim, per-slice bit-equality "
    "test-asserted (tests/test_evalmetrics.py).  Integer cells, "
    "per-order IEEE divisions, fixed-order mean, ROUND 6 — no "
    "transcendentals",
)
def pipe_eval_chrf_by_system(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    mod3 = F.col("doc_id") % 3
    m = (
        F.when(mod3 == 0, F.lit(5))
        .when(mod3 == 1, F.lit(7))
        .otherwise(F.lit(11))
    )
    system = (
        F.when(mod3 == 0, "drop5").when(mod3 == 1, "drop7").otherwise("drop11")
    )
    pairs = d.select(
        "doc_id",
        system.alias("system"),
        F.concat_ws(
            " ",
            F.filter(rt, lambda x, i: i % m != F.lit(3)),
        ).alias("cand"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.chrf_score_by_group(
        pairs, "system", "doc_id", "cand", "ref"
    )


@register(
    "pipe_eval_wer",
    oracle="""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '')[1:40] AS rt
  FROM documents
),
pair AS (
  SELECT doc_id, rt,
         list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 7 <> 3),
           i -> rt[i]) AS ct
  FROM base
),
enc AS (
  SELECT doc_id,
         list_distinct(list_concat(ct, rt)) AS words, ct, rt
  FROM pair
),
pp AS (
  SELECT doc_id,
         len(words) <= 127 AS ok,
         CASE WHEN len(words) <= 127 THEN CAST(levenshtein(
           array_to_string(list_transform(ct,
             w -> chr(CAST(list_position(words, w) AS INT))), ''),
           array_to_string(list_transform(rt,
             w -> chr(CAST(list_position(words, w) AS INT))), '')
         ) AS BIGINT) END AS n_edits,
         CAST(len(rt) AS BIGINT) AS ref_len
  FROM enc
)
SELECT CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
         AS n_pairs_dropped,
       CAST(COALESCE(SUM(CASE WHEN ok THEN n_edits END), 0) AS BIGINT)
         AS total_edits,
       CAST(COALESCE(SUM(CASE WHEN ok THEN ref_len END), 0) AS BIGINT)
         AS total_ref_words,
       CASE WHEN COALESCE(SUM(CASE WHEN ok THEN ref_len END), 0) > 0
            THEN ROUND(CAST(SUM(CASE WHEN ok THEN n_edits END) AS DOUBLE)
                       / CAST(SUM(CASE WHEN ok THEN ref_len END) AS DOUBLE),
                       6)
       END AS wer6
FROM pp
""",
    doc="corpus word error rate (evalmetrics.corpus_wer) — the "
    "edit-distance member of the eval family beside the overlap-based "
    "BLEU/chrF (the ASR/MT standard: minimum word edits over reference "
    "length).  Each pair's distinct words map to ONE single-byte "
    "character (edit distance is invariant under relabeling, so the "
    "two engines may order their alphabets differently), and the "
    "distance rides the engines' NATIVE levenshtein — Spark side is a "
    "pure row-local JVM projection inside whole-stage codegen, ZERO "
    "shuffles and zero Python (the counterpoint to the adjudicated "
    "BLEU/chrF Arrow folds); pairs past the 127-word alphabet are "
    "EXCLUDED AND COUNTED (n_pairs_dropped, the kappa/winrate "
    "convention).  Pairs: first 40 tokens of each document (bounding "
    "the alphabet), candidate drops every 7th token — WER prices "
    "exactly the deletions.  Integer edits/lengths, one IEEE division "
    "ROUNDed at 6",
)
def pipe_eval_wer(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.slice(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda x: x != F.lit(""),
        ),
        1,
        40,
    )
    pairs = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.filter(rt, lambda x, i: i % F.lit(7) != F.lit(3)),
        ).alias("cand"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.corpus_wer(pairs, "doc_id", "cand", "ref")


@register(
    "pipe_eval_wer_by_system",
    oracle="""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '')[1:40] AS rt
  FROM documents
),
pair AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'drop5'
                         WHEN 1 THEN 'drop7' ELSE 'drop11' END AS system,
         rt,
         list_transform(
           list_filter(range(1, len(rt) + 1),
             i -> (i - 1) % (CASE doc_id % 3 WHEN 0 THEN 5
                                             WHEN 1 THEN 7
                                             ELSE 11 END) <> 3),
           i -> rt[i]) AS ct
  FROM base
),
enc AS (
  SELECT doc_id, system,
         list_distinct(list_concat(ct, rt)) AS words, ct, rt
  FROM pair
),
pp AS (
  SELECT doc_id, system,
         len(words) <= 127 AS ok,
         CASE WHEN len(words) <= 127 THEN CAST(levenshtein(
           array_to_string(list_transform(ct,
             w -> chr(CAST(list_position(words, w) AS INT))), ''),
           array_to_string(list_transform(rt,
             w -> chr(CAST(list_position(words, w) AS INT))), '')
         ) AS BIGINT) END AS n_edits,
         CAST(len(rt) AS BIGINT) AS ref_len
  FROM enc
)
SELECT system,
       CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
         AS n_pairs_dropped,
       CAST(COALESCE(SUM(CASE WHEN ok THEN n_edits END), 0) AS BIGINT)
         AS total_edits,
       CAST(COALESCE(SUM(CASE WHEN ok THEN ref_len END), 0) AS BIGINT)
         AS total_ref_words,
       CASE WHEN COALESCE(SUM(CASE WHEN ok THEN ref_len END), 0) > 0
            THEN ROUND(CAST(SUM(CASE WHEN ok THEN n_edits END) AS DOUBLE)
                       / CAST(SUM(CASE WHEN ok THEN ref_len END) AS DOUBLE),
                       6)
       END AS wer6
FROM pp GROUP BY system
""",
    doc="corpus WER PER SYSTEM (evalmetrics.corpus_wer with group_col) "
    "— the ASR/MT leaderboard shape, completing the round-13 metric "
    "symmetry (BLEU, chrF and WER each have one-shot, by-system and "
    "store faces).  Systems are the pipe_eval_bleu_by_system trio "
    "(doc_id%3 picks drop-every-5th/7th/11th corruption), so the three "
    "WER rows must RANK the systems the OPPOSITE way BLEU does (WER is "
    "an error: milder corruption scores LOWER).  The grouped variant "
    "is the SAME zero-Python JVM projection (per-pair relabel + native "
    "levenshtein inside whole-stage codegen) under a groupBy over "
    "exact integer edits/lengths — each group's row equals the "
    "ungrouped operator over that slice bit for bit; out-of-alphabet "
    "pairs EXCLUDED AND COUNTED per system",
)
def pipe_eval_wer_by_system(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.slice(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda x: x != F.lit(""),
        ),
        1,
        40,
    )
    mod3 = F.col("doc_id") % 3
    m = (
        F.when(mod3 == 0, F.lit(5))
        .when(mod3 == 1, F.lit(7))
        .otherwise(F.lit(11))
    )
    system = (
        F.when(mod3 == 0, "drop5").when(mod3 == 1, "drop7").otherwise("drop11")
    )
    pairs = d.select(
        "doc_id",
        system.alias("system"),
        F.concat_ws(
            " ",
            F.filter(rt, lambda x, i: i % m != F.lit(3)),
        ).alias("cand"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.corpus_wer(
        pairs, "doc_id", "cand", "ref", group_col="system"
    )


_DISTINCT_N_ORACLE = """
WITH base AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
ns(n) AS (VALUES (1), (2), (3)),
cells AS (
  SELECT ns.n AS n,
         array_to_string(tk[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM base CROSS JOIN ns,
       UNNEST(range(1, greatest(len(tk) - ns.n + 2, 1))) AS u(i)
)
SELECT n,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(DISTINCT gram) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS distinct_ratio
FROM cells GROUP BY n
"""


@register(
    "pipe_eval_distinct_n",
    oracle=_DISTINCT_N_ORACLE,
    doc="distinct-n generation diversity (evalmetrics.distinct_ngrams, "
    "Li 2016): distinct token n-grams over total, n=1..3 — the mode-"
    "collapse dashboard for sampled model outputs (degeneracy shows "
    "as distinct-2 cratering while reference-based metrics stay "
    "flat).  One explode into (n, gram) cells + a gram-keyed "
    "pre-aggregation + one count pass — no windows, no joins, no "
    "Python; counts exact integers, the ratio one IEEE division — "
    "hash-exact",
)
def pipe_eval_distinct_n(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return evalmetrics.distinct_ngrams(d, "doc_id", "text", max_n=3)


_KAPPA_ORACLE = """
WITH ann AS (
  SELECT (event_id // 50) AS item,
         user_id % 4 AS annotator,
         CASE WHEN value < 5 THEN 'low'
              WHEN value < 15 THEN 'mid'
              WHEN event_id % 97 <> 0 THEN 'high' END AS label
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
),
rd AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN label IS NULL THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_rows_dropped
  FROM ann
),
resolved AS MATERIALIZED (
  SELECT item, annotator, MIN(label) AS label
  FROM ann WHERE label IS NOT NULL GROUP BY item, annotator
),
pairs AS MATERIALIZED (
  SELECT a.item, a.annotator AS annotator_a, b.annotator AS annotator_b,
         a.label AS la, b.label AS lb
  FROM resolved a
  JOIN resolved b ON b.item = a.item AND a.annotator < b.annotator
),
base AS (
  SELECT annotator_a, annotator_b,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM pairs GROUP BY annotator_a, annotator_b
),
ma AS (
  SELECT annotator_a, annotator_b, la AS label, COUNT(*) AS ca
  FROM pairs GROUP BY annotator_a, annotator_b, la
),
mb AS (
  SELECT annotator_a, annotator_b, lb AS label, COUNT(*) AS cb
  FROM pairs GROUP BY annotator_a, annotator_b, lb
),
cr AS (
  SELECT ma.annotator_a, ma.annotator_b,
         CAST(SUM(ma.ca * mb.cb) AS BIGINT) AS crs
  FROM ma JOIN mb
    ON mb.annotator_a = ma.annotator_a
   AND mb.annotator_b = ma.annotator_b
   AND mb.label = ma.label
  GROUP BY ma.annotator_a, ma.annotator_b
)
SELECT b.annotator_a, b.annotator_b, b.n_items, b.n_agree,
       CAST(b.n_agree AS DOUBLE) / CAST(b.n_items AS DOUBLE) AS p_o,
       CAST(cr.crs AS DOUBLE)
         / CAST(b.n_items * b.n_items AS DOUBLE) AS p_e,
       CASE WHEN b.n_items * b.n_items - cr.crs = 0 THEN 0.0
            ELSE CAST(b.n_agree * b.n_items - cr.crs AS DOUBLE)
                 / CAST(b.n_items * b.n_items - cr.crs AS DOUBLE)
       END AS kappa,
       rd.n_rows_dropped
FROM base b
JOIN cr ON cr.annotator_a = b.annotator_a
       AND cr.annotator_b = b.annotator_b
CROSS JOIN rd
"""


@register(
    "pipe_eval_kappa",
    oracle=_KAPPA_ORACLE,
    doc="pairwise Cohen's kappa (evalmetrics.annotator_agreement), the "
    "label-quality gate of RLHF/SFT pipelines: raw agreement p_o "
    "discounted by the chance agreement p_e of the two annotators' "
    "marginal label distributions, over the items BOTH labeled "
    "(pairwise-complete).  Annotations derive deterministically from "
    "events: item = event_id//50, annotator = user_id%4, label = "
    "3-class value bucket, same-cell conflicts resolved to MIN(label). "
    "One resolve agg + an item-keyed self-join fanning out only "
    "k(k-1)/2 rows per item + map-side-combinable pair-keyed counts. "
    "Exactness: the kappa identity (agree*n - cross)/(n^2 - cross) "
    "keeps numerator and denominator INTEGER, so every output double "
    "is ONE exact IEEE division — hash-exact with no rounding at all. "
    "A deterministic event_id%97 stripe of NULL labels exercises the "
    "r12 NULL-label discipline: the operator excludes them and reports "
    "the count in n_rows_dropped (winrate_report convention)",
)
def pipe_eval_kappa(spark, sf_dir):
    e = table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    ann = e.select(
        F.expr("event_id div 50").alias("item"),
        (F.col("user_id") % 4).alias("annotator"),
        F.when(F.col("value") < 5, "low")
        .when(F.col("value") < 15, "mid")
        .when(F.expr("event_id % 97 != 0"), "high")
        .alias("label"),
    )
    return evalmetrics.annotator_agreement(ann, "item", "annotator", "label")


_FLEISS_ORACLE = """
WITH ann AS (
  SELECT (event_id // 40) AS item,
         user_id % 5 AS annotator,
         CASE WHEN value < 5 THEN 'low'
              WHEN value < 15 THEN 'mid'
              WHEN event_id % 89 <> 0 THEN 'high' END AS label
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
),
rd AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN label IS NULL THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_rows_dropped
  FROM ann
),
resolved AS MATERIALIZED (
  SELECT item, annotator, MIN(label) AS label
  FROM ann WHERE label IS NOT NULL GROUP BY item, annotator
),
rc AS MATERIALIZED (
  SELECT item, COUNT(*) AS nr FROM resolved GROUP BY item
),
kept AS (SELECT item FROM rc WHERE nr = 5),
nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items_dropped
  FROM rc WHERE nr <> 5
),
cells AS MATERIALIZED (
  SELECT r.item, r.label, CAST(COUNT(*) AS BIGINT) AS nij
  FROM resolved r JOIN kept k ON k.item = r.item
  GROUP BY r.item, r.label
),
s1 AS (
  SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS n_items,
         CAST(COALESCE(SUM(nij * nij), 0) AS BIGINT) AS s1
  FROM cells
),
s2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
         CAST(COALESCE(SUM(cj * cj), 0) AS BIGINT) AS s2
  FROM (SELECT label, SUM(nij) AS cj FROM cells GROUP BY label) c
),
calc AS (
  SELECT s1.n_items, s2.n_categories, nd.n_items_dropped,
         rd.n_rows_dropped,
         CAST(s1.s1 - s1.n_items * 5 AS DOUBLE)
           / CAST(s1.n_items * 5 * 4 AS DOUBLE) AS p_bar,
         CAST(s2.s2 AS DOUBLE)
           / (CAST(s1.n_items * 5 AS DOUBLE)
              * CAST(s1.n_items * 5 AS DOUBLE)) AS p_e
  FROM s1 CROSS JOIN s2 CROSS JOIN nd CROSS JOIN rd
)
SELECT n_items, CAST(5 AS INT) AS n_raters, n_categories,
       n_items_dropped,
       CASE WHEN n_items = 0 THEN 0.0 ELSE p_bar END AS p_bar,
       CASE WHEN n_items = 0 THEN 0.0 ELSE p_e END AS p_e_bar,
       CASE WHEN n_items = 0 OR p_e = 1.0 THEN 0.0
            ELSE (p_bar - p_e) / (1.0 - p_e) END AS fleiss_kappa,
       n_rows_dropped
FROM calc
"""


@register(
    "pipe_eval_fleiss",
    oracle=_FLEISS_ORACLE,
    doc="Fleiss' kappa (evalmetrics.fleiss_kappa, 1971): panel-level "
    "chance-corrected agreement — one number for the whole labeling "
    "crew, beside pipe_eval_kappa's per-pair view.  Annotations derive "
    "from events (item=event_id//40, annotator=user_id%5, 3-class "
    "value labels); items without EXACTLY 5 raters are excluded and "
    "counted in n_items_dropped (silent imbalance would bias P-bar).  "
    "No self-join at all: resolve + per-(item,label) counts are "
    "item-keyed map-side-combinable aggs, the balanced filter is a "
    "semi-join, then per-item sums reduce to ONE row.  S1/S2 are "
    "exact BIGINTs and the three divisions are fixed-order IEEE "
    "doubles replicated by the oracle — hash-exact with no rounding. "
    "A deterministic event_id%89 stripe of NULL labels exercises the "
    "r12 NULL-label discipline (n_rows_dropped; dropping a rater cell "
    "can also unbalance its item, which then shows in n_items_dropped)",
)
def pipe_eval_fleiss(spark, sf_dir):
    e = table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    ann = e.select(
        F.expr("event_id div 40").alias("item"),
        (F.col("user_id") % 5).alias("annotator"),
        F.when(F.col("value") < 5, "low")
        .when(F.col("value") < 15, "mid")
        .when(F.expr("event_id % 89 != 0"), "high")
        .alias("label"),
    )
    return evalmetrics.fleiss_kappa(ann, "item", "annotator", "label", n_raters=5)


_KRIPPENDORFF_ORACLE = """
WITH ann AS (
  SELECT (event_id // 30) AS item,
         user_id % 6 AS annotator,
         CASE WHEN value < 5 THEN 'low'
              WHEN value < 15 THEN 'mid'
              WHEN event_id % 83 <> 0 THEN 'high' END AS label
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
),
rd AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN label IS NULL THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_rows_dropped
  FROM ann
),
resolved AS MATERIALIZED (
  SELECT item, annotator, MIN(label) AS label
  FROM ann WHERE label IS NOT NULL GROUP BY item, annotator
),
cells AS MATERIALIZED (
  SELECT item, label, CAST(COUNT(*) AS BIGINT) AS c
  FROM resolved GROUP BY item, label
),
per_item AS MATERIALIZED (
  SELECT item, CAST(SUM(c) AS BIGINT) AS m,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS pairs
  FROM cells GROUP BY item
),
ud AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN m < 2 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_units_dropped
  FROM per_item
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_values,
         CAST(COALESCE(SUM((pairs * 1000000 + ((m - 1) // 2)) // (m - 1)), 0)
              AS BIGINT) AS a6
  FROM per_item WHERE m >= 2
),
marg AS (
  SELECT cells.label, CAST(SUM(cells.c) AS BIGINT) AS nc
  FROM cells JOIN per_item ON per_item.item = cells.item
  WHERE per_item.m >= 2
  GROUP BY cells.label
),
cats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
         CAST(COALESCE(SUM(nc * nc), 0) AS BIGINT) AS sc2
  FROM marg
)
SELECT n_values, n_units, n_categories, n_units_dropped, n_rows_dropped,
       a6 AS coincidence_e6,
       CASE WHEN n_units = 0 OR n_values * n_values - sc2 = 0 THEN 0.0
            ELSE ROUND(1.0 -
                 (CAST(n_values - 1 AS DOUBLE)
                  * (CAST(n_values AS DOUBLE)
                     - CAST(a6 AS DOUBLE) / 1000000.0))
                 / CAST(n_values * n_values - sc2 AS DOUBLE), 6)
       END AS alpha6
FROM tot CROSS JOIN cats CROSS JOIN ud CROSS JOIN rd
"""


@register(
    "pipe_eval_krippendorff",
    oracle=_KRIPPENDORFF_ORACLE,
    doc="Krippendorff's alpha, nominal (evalmetrics.krippendorff_alpha, "
    "2011): the missing-data-tolerant agreement coefficient completing "
    "the annotator-QA family — Cohen scores one pair, Fleiss needs a "
    "balanced panel, alpha scores ANY sparse annotation matrix via the "
    "coincidence formulation (each unit's value pairs at weight "
    "1/(m_u-1)).  Annotations derive from events (item=event_id//30, "
    "annotator=user_id%6 — naturally RAGGED rater counts, the case "
    "Fleiss drops) with a NULL-label stripe (event_id%83) exercising "
    "n_rows_dropped; single-rated units land in n_units_dropped (the "
    "published worked example's unit 12, reproduced in tests).  "
    "Exactness: all sums BIGINT; the one rational mass A is scaled by "
    "round-half-up INTEGER division (Spark div == DuckDB //) into an "
    "associative micro-unit sum; alpha6 is one fixed-order IEEE "
    "expression ROUNDed at 6 — hash-exact.  Two item-keyed "
    "map-side-combinable aggs + one label-keyed marginal, no windows, "
    "no self-join",
)
def pipe_eval_krippendorff(spark, sf_dir):
    e = table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    ann = e.select(
        F.expr("event_id div 30").alias("item"),
        (F.col("user_id") % 6).alias("annotator"),
        F.when(F.col("value") < 5, "low")
        .when(F.col("value") < 15, "mid")
        .when(F.expr("event_id % 83 != 0"), "high")
        .alias("label"),
    )
    return evalmetrics.krippendorff_alpha(ann, "item", "annotator", "label")


_WINRATE_ORACLE = """
WITH matches AS (
  SELECT user_id % 6 AS a,
         event_id % 6 AS b,
         CASE WHEN CAST(FLOOR(value * 100) AS BIGINT) % 2 = 0
              THEN user_id % 6 ELSE event_id % 6 END AS w
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
),
base AS MATERIALIZED (
  SELECT LEAST(a, b) AS side_lo, GREATEST(a, b) AS side_hi,
         CASE WHEN w = LEAST(a, b) THEN 1 ELSE 0 END AS win_lo,
         COALESCE(a IS NOT NULL AND b IS NOT NULL AND a <> b
                  AND (w = a OR w = b), FALSE) AS ok
  FROM matches
),
nd AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_dropped
  FROM base
),
agg AS (
  SELECT side_lo, side_hi,
         CAST(COUNT(*) AS BIGINT) AS n_games,
         CAST(SUM(win_lo) AS BIGINT) AS n_wins_lo
  FROM base WHERE ok GROUP BY side_lo, side_hi
)
SELECT side_lo, side_hi, n_games, n_wins_lo,
       CAST(n_wins_lo AS DOUBLE) / CAST(n_games AS DOUBLE) AS win_rate,
       GREATEST(0.0,
         ((CAST(n_wins_lo AS DOUBLE) / CAST(n_games AS DOUBLE)
           + (1.96 * 1.96) / (2.0 * CAST(n_games AS DOUBLE)))
          - 1.96 * SQRT(
              (CAST(n_wins_lo AS DOUBLE) / CAST(n_games AS DOUBLE))
              * (1.0 - CAST(n_wins_lo AS DOUBLE)
                       / CAST(n_games AS DOUBLE))
              / CAST(n_games AS DOUBLE)
              + (1.96 * 1.96)
                / (4.0 * CAST(n_games AS DOUBLE)
                   * CAST(n_games AS DOUBLE))))
         / (1.0 + (1.96 * 1.96) / CAST(n_games AS DOUBLE))) AS wilson_lo,
       LEAST(1.0,
         ((CAST(n_wins_lo AS DOUBLE) / CAST(n_games AS DOUBLE)
           + (1.96 * 1.96) / (2.0 * CAST(n_games AS DOUBLE)))
          + 1.96 * SQRT(
              (CAST(n_wins_lo AS DOUBLE) / CAST(n_games AS DOUBLE))
              * (1.0 - CAST(n_wins_lo AS DOUBLE)
                       / CAST(n_games AS DOUBLE))
              / CAST(n_games AS DOUBLE)
              + (1.96 * 1.96)
                / (4.0 * CAST(n_games AS DOUBLE)
                   * CAST(n_games AS DOUBLE))))
         / (1.0 + (1.96 * 1.96) / CAST(n_games AS DOUBLE))) AS wilson_hi,
       (SELECT n_dropped FROM nd) AS n_dropped
FROM agg
"""


@register(
    "pipe_eval_winrate",
    oracle=_WINRATE_ORACLE,
    doc="pairwise win-rates with Wilson score intervals "
    "(evalmetrics.winrate_report, z=1.96) — the eval-dashboard "
    "statistic beside the Bradley-Terry trainer: BT fits strengths, "
    "this reports each matchup's rate WITH the uncertainty that "
    "decides whether 55% over 20 games means anything.  Matches "
    "derive from events (sides user_id%6 vs event_id%6, winner by "
    "FLOOR(value*100) parity); self-matches and invalid winners are "
    "EXCLUDED and counted in n_dropped.  One row-local canonicalize, "
    "one map-side-combinable pair agg, a 1-row dropped broadcast.  "
    "Counts are integers; the Wilson bounds are a fixed sequence of "
    "correctly-rounded IEEE ops incl. ONE sqrt (the HITS guarantee), "
    "clamped to [0,1] — hash-exact with NO rounding step",
)
def pipe_eval_winrate(spark, sf_dir):
    e = table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    matches = e.select(
        (F.col("user_id") % 6).alias("a"),
        (F.col("event_id") % 6).alias("b"),
        F.when(
            F.floor(F.col("value") * 100).cast("bigint") % 2 == 0,
            F.col("user_id") % 6,
        )
        .otherwise(F.col("event_id") % 6)
        .alias("w"),
    )
    return evalmetrics.winrate_report(matches, "a", "b", "w", z=1.96)


_RANKING_ORACLE = """
WITH res AS (
  SELECT o_custkey AS q, o_orderkey AS item,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
),
topk AS (SELECT * FROM res WHERE rnk <= 10),
gold AS (
  SELECT o_custkey AS q, o_orderkey AS item
  FROM orders WHERE o_orderstatus = 'F'
),
hits AS (
  SELECT t.q, t.rnk
  FROM topk t JOIN gold g ON t.q = g.q AND t.item = g.item
),
ha AS (
  SELECT q, COUNT(*) AS n_hits, MIN(rnk) AS first_rnk,
         SUM(CAST(ROUND(1.0 / log2(CAST(rnk AS DOUBLE) + 1.0), 6)
                  AS DECIMAL(18,6))) AS dcg
  FROM hits GROUP BY q
),
ng AS (SELECT q, COUNT(*) AS n_gold FROM gold GROUP BY q),
ideal AS (
  SELECT q, SUM(CAST(ROUND(1.0 / log2(CAST(pos AS DOUBLE) + 1.0), 6)
                     AS DECIMAL(18,6))) AS idcg
  FROM (SELECT q, ROW_NUMBER() OVER (PARTITION BY q ORDER BY item) AS pos
        FROM gold)
  WHERE pos <= 10 GROUP BY q
),
per AS (
  SELECT ng.q, ng.n_gold,
         COALESCE(ha.n_hits, 0) AS n_hits,
         ROUND(COALESCE(CAST(1 AS DOUBLE) / CAST(ha.first_rnk AS DOUBLE),
                        0.0), 6) AS rr6,
         ROUND(CAST(COALESCE(ha.n_hits, 0) AS DOUBLE) / 10.0, 6)
           AS precision6,
         ROUND(CAST(COALESCE(ha.n_hits, 0) AS DOUBLE)
               / CAST(ng.n_gold AS DOUBLE), 6) AS recall6,
         CASE WHEN i.idcg > 0
              THEN ROUND(CAST(COALESCE(ha.dcg, 0) AS DOUBLE)
                         / CAST(i.idcg AS DOUBLE), 6)
         END AS ndcg6
  FROM ng JOIN ideal i ON ng.q = i.q LEFT JOIN ha ON ng.q = ha.q
)
SELECT CAST(10 AS INTEGER) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN ndcg6 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ndcg_ungraded,
       CAST(SUM(n_hits) AS BIGINT) AS n_hits_total,
       CAST(SUM(n_gold) AS BIGINT) AS n_gold_total,
       CASE WHEN SUM(n_gold) > 0
            THEN ROUND(CAST(SUM(n_hits) AS DOUBLE)
                       / CAST(SUM(n_gold) AS DOUBLE), 6)
       END AS micro_recall6,
       ROUND(CAST(SUM(CAST(rr6 AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mrr6,
       ROUND(CAST(SUM(CAST(precision6 AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_precision_k6,
       ROUND(CAST(SUM(CAST(recall6 AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_recall_k6,
       CASE WHEN SUM(CASE WHEN ndcg6 IS NOT NULL THEN 1 ELSE 0 END) > 0
            THEN ROUND(CAST(SUM(CAST(ndcg6 AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(SUM(CASE WHEN ndcg6 IS NOT NULL THEN 1
                                       ELSE 0 END) AS DOUBLE), 6)
       END AS mean_ndcg6
FROM per
"""


@register(
    "pipe_eval_ranking",
    oracle=_RANKING_ORACLE,
    doc="retrieval ranking report (ranking.ranking_report): nDCG@10 "
    "(Jarvelin & Kekalainen 2002), MRR, P@10/R@10 macro means plus "
    "pooled micro recall, ONE row — the IR-eval step that grades what "
    "the similarity/BM25 operators retrieve (which embedding model "
    "lifted nDCG vs just recall?).  This face grades a deterministic "
    "ranked list over orders: each customer's orders ranked by "
    "o_totalprice DESC (o_orderkey tie-break) as the results, their "
    "'F'-status orders as binary gold — real skew (customers with "
    "1..many gold orders, hits at every depth).  Pure JVM: two "
    "query-keyed joins + one window, shuffles O(results-at-k + gold) "
    "rows; the 1/log2 gains (the metric's one transcendental) are "
    "ROUNDed at 6 per item and summed as exact DECIMAL(18,6), macro "
    "means via the registry's DECIMAL recipe — hash-exact under any "
    "partitioning.  Queries with zero-grade gold would be EXCLUDED "
    "from the nDCG mean and counted in n_ndcg_ungraded (binary gold "
    "here, so 0 — the column proves the accounting exists)",
)
def pipe_eval_ranking(spark, sf_dir):
    from ..operators import ranking
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    results = o.select(
        F.col("o_custkey").alias("q"),
        F.col("o_orderkey").alias("item"),
        F.row_number().over(w).alias("rnk"),
    )
    gold = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("q"), F.col("o_orderkey").alias("item")
    )
    return ranking.ranking_report(results, gold, "q", "item", "rnk", k=10)


@register(
    "pipe_eval_ranking_by_policy",
    oracle="""
WITH res AS (
  SELECT 'price' AS pol, o_custkey AS q, o_orderkey AS item,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
  UNION ALL
  SELECT 'recent' AS pol, o_custkey AS q, o_orderkey AS item,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey) AS rnk
  FROM orders
),
topk AS (SELECT * FROM res WHERE rnk <= 10),
gold AS (
  SELECT o_custkey AS q, o_orderkey AS item
  FROM orders WHERE o_orderstatus = 'F'
),
hits AS (
  SELECT t.pol, t.q, t.rnk
  FROM topk t JOIN gold g ON t.q = g.q AND t.item = g.item
),
ha AS (
  SELECT pol, q, COUNT(*) AS n_hits, MIN(rnk) AS first_rnk,
         SUM(CAST(ROUND(1.0 / log2(CAST(rnk AS DOUBLE) + 1.0), 6)
                  AS DECIMAL(18,6))) AS dcg
  FROM hits GROUP BY pol, q
),
ng AS (SELECT q, COUNT(*) AS n_gold FROM gold GROUP BY q),
ideal AS (
  SELECT q, SUM(CAST(ROUND(1.0 / log2(CAST(pos AS DOUBLE) + 1.0), 6)
                     AS DECIMAL(18,6))) AS idcg
  FROM (SELECT q, ROW_NUMBER() OVER (PARTITION BY q ORDER BY item) AS pos
        FROM gold)
  WHERE pos <= 10 GROUP BY q
),
pols AS (SELECT DISTINCT pol FROM res),
per AS (
  SELECT p.pol, ng.q, ng.n_gold,
         COALESCE(ha.n_hits, 0) AS n_hits,
         ROUND(COALESCE(CAST(1 AS DOUBLE) / CAST(ha.first_rnk AS DOUBLE),
                        0.0), 6) AS rr6,
         ROUND(CAST(COALESCE(ha.n_hits, 0) AS DOUBLE) / 10.0, 6)
           AS precision6,
         ROUND(CAST(COALESCE(ha.n_hits, 0) AS DOUBLE)
               / CAST(ng.n_gold AS DOUBLE), 6) AS recall6,
         CASE WHEN i.idcg > 0
              THEN ROUND(CAST(COALESCE(ha.dcg, 0) AS DOUBLE)
                         / CAST(i.idcg AS DOUBLE), 6)
         END AS ndcg6
  FROM ng JOIN ideal i ON ng.q = i.q
  CROSS JOIN pols p
  LEFT JOIN ha ON ha.pol = p.pol AND ng.q = ha.q
)
SELECT pol,
       CAST(10 AS INTEGER) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN ndcg6 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ndcg_ungraded,
       CAST(SUM(n_hits) AS BIGINT) AS n_hits_total,
       CAST(SUM(n_gold) AS BIGINT) AS n_gold_total,
       CASE WHEN SUM(n_gold) > 0
            THEN ROUND(CAST(SUM(n_hits) AS DOUBLE)
                       / CAST(SUM(n_gold) AS DOUBLE), 6)
       END AS micro_recall6,
       ROUND(CAST(SUM(CAST(rr6 AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mrr6,
       ROUND(CAST(SUM(CAST(precision6 AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_precision_k6,
       ROUND(CAST(SUM(CAST(recall6 AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_recall_k6,
       CASE WHEN SUM(CASE WHEN ndcg6 IS NOT NULL THEN 1 ELSE 0 END) > 0
            THEN ROUND(CAST(SUM(CAST(ndcg6 AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(SUM(CASE WHEN ndcg6 IS NOT NULL THEN 1
                                       ELSE 0 END) AS DOUBLE), 6)
       END AS mean_ndcg6
FROM per GROUP BY pol
""",
    doc="ranking report PER POLICY (ranking.ranking_report with "
    "group_col) — the N-system retrieval leaderboard, completing the "
    "corpus-metric form matrix for ranking (one-shot, by-policy, "
    "bootstrap, store; the round-13 verdict's named gap).  Two "
    "deterministic policies rank each customer's orders against the "
    "SHARED 'F'-status gold: 'price' (o_totalprice DESC — the "
    "pipe_eval_ranking list) and 'recent' (o_orderdate DESC), "
    "o_orderkey tie-break both.  Every policy is graded on the FULL "
    "gold query set — a customer a policy surfaces no gold order for "
    "grades as a full miss, not a missing row (the per-query gold "
    "stats are group-independent, computed ONCE and crossed with the "
    "distinct policies via broadcast — policies are a handful of "
    "rows).  Each policy's row equals the ungrouped report over its "
    "slice bit for bit: same cells, shared finisher, DECIMAL(18,6) "
    "macro means, zero-grade queries excluded-and-counted",
)
def pipe_eval_ranking_by_policy(spark, sf_dir):
    from ..operators import ranking
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    wp = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wd = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").asc()
    )

    def ranked(w, pol):
        return o.select(
            F.lit(pol).alias("pol"),
            F.col("o_custkey").alias("q"),
            F.col("o_orderkey").alias("item"),
            F.row_number().over(w).alias("rnk"),
        )

    results = ranked(wp, "price").unionByName(ranked(wd, "recent"))
    gold = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("q"), F.col("o_orderkey").alias("item")
    )
    return ranking.ranking_report(
        results, gold, "q", "item", "rnk", k=10, group_col="pol"
    )


_QA_NORM_SQL = """array_to_string(
  list_filter(
    list_filter(
      regexp_split_to_array(
        regexp_replace(lower({src}), '[^a-z0-9\\s]', '', 'g'), '\\s+'),
      x -> x <> ''),
    x -> x NOT IN ('a', 'an', 'the')), ' ')"""

_QA_ORACLE_BODY = (
    """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
raw AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN array_to_string(tk[1:5], ' ')
           WHEN 1 THEN array_to_string(list_reverse(tk[1:5]), ' ')
           ELSE array_to_string(tk[3:7], ' ')
         END AS pred,
         g.gold
  FROM base,
       LATERAL (VALUES (array_to_string(tk[1:5], ' ')),
                       (array_to_string(tk[1:4], ' '))) AS g(gold)
),
norm AS (
  SELECT DISTINCT doc_id AS qid,
         """
    + _QA_NORM_SQL.format(src="pred")
    + """ AS p,
         """
    + _QA_NORM_SQL.format(src="gold")
    + """ AS g
  FROM raw
),
toks AS (
  SELECT qid, p, g,
         list_filter(regexp_split_to_array(p, '\\s+'), x -> x <> '') AS pt,
         list_filter(regexp_split_to_array(g, '\\s+'), x -> x <> '') AS gt
  FROM norm
),
pc AS (
  SELECT qid, g, u.w, COUNT(*) AS cp
  FROM toks, UNNEST(pt) AS u(w) GROUP BY qid, g, u.w
),
gc AS (
  SELECT qid, g, u.w, COUNT(*) AS cg
  FROM toks, UNNEST(gt) AS u(w) GROUP BY qid, g, u.w
),
m AS (
  SELECT pc.qid, pc.g, SUM(LEAST(cp, cg)) AS m
  FROM pc JOIN gc ON pc.qid = gc.qid AND pc.g = gc.g AND pc.w = gc.w
  GROUP BY pc.qid, pc.g
),
alt AS (
  SELECT t.qid,
         CASE WHEN t.p = t.g THEN 1 ELSE 0 END AS em,
         CASE WHEN len(pt) = 0 OR len(gt) = 0
              THEN CASE WHEN t.p = t.g THEN CAST(1 AS DOUBLE)
                        ELSE CAST(0 AS DOUBLE) END
              ELSE ROUND(CAST(2 * COALESCE(m.m, 0) AS DOUBLE)
                         / CAST(len(pt) + len(gt) AS DOUBLE), 6)
         END AS f1
  FROM toks t LEFT JOIN m ON t.qid = m.qid AND t.g = m.g
),
perq AS (
  SELECT qid, MAX(em) AS em, MAX(f1) AS f1_6 FROM alt GROUP BY qid
)
"""
)

#: the one-shot QA finisher over the shared perq CTE
_QA_ORACLE = (
    _QA_ORACLE_BODY
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_questions,
       CAST(SUM(em) AS BIGINT) AS n_em,
       CASE WHEN COUNT(*) > 0
            THEN ROUND(CAST(SUM(em) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       END AS em_rate6,
       CASE WHEN COUNT(*) > 0
            THEN ROUND(CAST(SUM(CAST(f1_6 AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE), 6)
       END AS f1_mean6
FROM perq
"""
)


@register(
    "pipe_eval_qa",
    oracle=_QA_ORACLE,
    doc="extractive-QA grading (evalmetrics.qa_report): SQuAD exact "
    "match + token F1 (Rajpurkar et al. 2016), max over gold "
    "alternatives, ONE leaderboard row — the reading-comprehension "
    "member of the eval family beside the sequence metrics.  "
    "Questions derive per document: two gold alternatives (first 5 / "
    "first 4 raw tokens) and a doc_id%3 prediction — exact copy (EM 1 "
    "F1 1), REVERSED copy (EM 0, bag-of-token F1 1: the pair that "
    "separates the two grades), or a 2-token-shifted window (partial "
    "overlap, F1 strictly between).  Normalization is the official "
    "script's semantics engine-portably: lowercase, DELETE "
    "punctuation, drop article tokens — applied identically in both "
    "engines; alternatives dedupe on NORMALIZED strings (short docs "
    "collapse g1 == g2).  The multiset unigram intersection is an "
    "explode -> count -> equi-join on (qid, gold, word): shuffles "
    "O(answer tokens), never the corpus; zero Python.  EM mean is an "
    "exact integer ratio; F1 mean rides the registry's DECIMAL(18,6) "
    "recipe",
)
def pipe_eval_qa(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tk = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    t5 = F.concat_ws(" ", F.slice(tk, 1, 5))
    t4 = F.concat_ws(" ", F.slice(tk, 1, 4))
    mod3 = F.col("doc_id") % 3
    pred = (
        F.when(mod3 == 0, t5)
        .when(mod3 == 1, F.concat_ws(" ", F.reverse(F.slice(tk, 1, 5))))
        .otherwise(F.concat_ws(" ", F.slice(tk, 3, 5)))
    )
    rows = d.select(
        F.col("doc_id").alias("qid"),
        pred.alias("pred"),
        F.explode(F.array(t5, t4)).alias("gold"),
    )
    return evalmetrics.qa_report(rows, "qid", "pred", "gold")


@register(
    "pipe_eval_qa_by_system",
    oracle=_QA_ORACLE_BODY
    + """
SELECT CASE qid % 3 WHEN 0 THEN 'copy'
                    WHEN 1 THEN 'reversed' ELSE 'shifted' END AS system,
       CAST(COUNT(*) AS BIGINT) AS n_questions,
       CAST(SUM(em) AS BIGINT) AS n_em,
       CASE WHEN COUNT(*) > 0
            THEN ROUND(CAST(SUM(em) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       END AS em_rate6,
       CASE WHEN COUNT(*) > 0
            THEN ROUND(CAST(SUM(CAST(f1_6 AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE), 6)
       END AS f1_mean6
FROM perq GROUP BY 1
""",
    doc="extractive-QA grades PER SYSTEM (evalmetrics.qa_report with "
    "group_col) — the multi-system leaderboard slice, completing the "
    "corpus-metric form matrix for QA (one-shot, by-system, store; "
    "the round-13 verdict's named gap).  Systems are pipe_eval_qa's "
    "three doc_id%3 prediction modes NAMED AS SYSTEMS: 'copy' (exact "
    "first-5-token answer) must grade EM 1/F1 1, 'reversed' (same "
    "bag, reversed order) EM 0 with high bag-of-token F1 — the slice "
    "that separates the two grades — and 'shifted' (2-token-shifted "
    "window) partial-overlap F1 strictly between.  The grouped "
    "variant is the SAME cells + shared finisher under a groupBy over "
    "the group carried by the row projection (the wer_pairs pattern, "
    "no join-back) — each system's row equals the ungrouped operator "
    "over that slice bit for bit (test-asserted); explode -> count -> "
    "equi-join intersection unchanged, shuffles O(answer tokens)",
)
def pipe_eval_qa_by_system(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tk = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    t5 = F.concat_ws(" ", F.slice(tk, 1, 5))
    t4 = F.concat_ws(" ", F.slice(tk, 1, 4))
    mod3 = F.col("doc_id") % 3
    pred = (
        F.when(mod3 == 0, t5)
        .when(mod3 == 1, F.concat_ws(" ", F.reverse(F.slice(tk, 1, 5))))
        .otherwise(F.concat_ws(" ", F.slice(tk, 3, 5)))
    )
    system = (
        F.when(mod3 == 0, "copy")
        .when(mod3 == 1, "reversed")
        .otherwise("shifted")
    )
    rows = d.select(
        system.alias("system"),
        F.col("doc_id").alias("qid"),
        pred.alias("pred"),
        F.explode(F.array(t5, t4)).alias("gold"),
    )
    return evalmetrics.qa_report(
        rows, "qid", "pred", "gold", group_col="system"
    )


_ROUGE_ORACLE = """
WITH RECURSIVE
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '')[1:40] AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id, rt,
         CASE doc_id % 3
           WHEN 0 THEN list_transform(
             list_filter(range(1, len(rt) + 1), i -> (i - 1) % 7 <> 3),
             i -> rt[i])
           WHEN 1 THEN list_reverse(rt)
           ELSE list_concat(rt[21:40], rt[1:20])
         END AS ct
  FROM base
),
ns(n) AS (VALUES (1), (2)),
cg AS (
  SELECT doc_id, ns.n AS n,
         array_to_string(ct[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(ct) - ns.n + 2, 1))) AS u(i)
),
rg AS (
  SELECT doc_id, ns.n AS n,
         array_to_string(rt[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(rt) - ns.n + 2, 1))) AS u(i)
),
cc AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM cg GROUP BY doc_id, n, gram),
rc AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, n, gram),
nm AS (
  SELECT cc.n, CAST(SUM(LEAST(cc.c, rc.c)) AS BIGINT) AS matched
  FROM cc JOIN rc ON rc.doc_id = cc.doc_id AND rc.n = cc.n
                 AND rc.gram = cc.gram
  GROUP BY cc.n
),
tot AS (
  SELECT ns.n AS n,
         CAST(SUM(greatest(len(ct) - ns.n + 1, 0)) AS BIGINT) AS cand_total,
         CAST(SUM(greatest(len(rt) - ns.n + 1, 0)) AS BIGINT) AS ref_total
  FROM pair CROSS JOIN ns GROUP BY ns.n
),
-- ROUGE-L: the SAME bit recurrence the Spark fold runs (Hyyro 2004),
-- replayed over HUGEINT masks in a recursive CTE -- two engines, two
-- implementations, one recurrence.  rt is capped at 40 tokens so the
-- mask fits a HUGEINT with room to carry.
pm AS (
  SELECT doc_id, rt[ri.i] AS w,
         SUM(CAST(1 AS HUGEINT) << (ri.i - 1)) AS mask
  FROM pair, UNNEST(range(1, len(rt) + 1)) AS ri(i)
  GROUP BY doc_id, rt[ri.i]
),
steps AS (
  SELECT doc_id, 0 AS j,
         (CAST(1 AS HUGEINT) << len(rt)) - 1 AS v
  FROM pair
  UNION ALL
  SELECT s.doc_id, s.j + 1,
         ((s.v + u.u) | (s.v - u.u))
           & ((CAST(1 AS HUGEINT) << len(p.rt)) - 1) AS v
  FROM steps s
  JOIN pair p ON p.doc_id = s.doc_id
  LEFT JOIN pm ON pm.doc_id = s.doc_id AND pm.w = p.ct[s.j + 1],
  LATERAL (SELECT s.v & COALESCE(pm.mask, 0) AS u) u
  WHERE s.j < len(p.ct)
),
fin AS (
  SELECT s.doc_id, len(p.rt) - bit_count(s.v) AS lcs
  FROM steps s JOIN pair p ON p.doc_id = s.doc_id
  WHERE s.j = len(p.ct)
),
cells AS (
  SELECT 'rouge' || CAST(tot.n AS VARCHAR) AS metric,
         COALESCE(nm.matched, 0) AS matched,
         tot.cand_total, tot.ref_total
  FROM tot LEFT JOIN nm ON nm.n = tot.n
  UNION ALL
  SELECT 'rougeL' AS metric,
         (SELECT CAST(COALESCE(SUM(lcs), 0) AS BIGINT) FROM fin) AS matched,
         (SELECT CAST(COALESCE(SUM(len(ct)), 0) AS BIGINT) FROM pair)
           AS cand_total,
         (SELECT CAST(COALESCE(SUM(len(rt)), 0) AS BIGINT) FROM pair)
           AS ref_total
)
SELECT metric, matched, cand_total, ref_total,
       CASE WHEN cand_total > 0
            THEN ROUND(CAST(matched AS DOUBLE)
                       / CAST(cand_total AS DOUBLE), 6) END AS precision6,
       CASE WHEN ref_total > 0
            THEN ROUND(CAST(matched AS DOUBLE)
                       / CAST(ref_total AS DOUBLE), 6) END AS recall6,
       CASE WHEN cand_total + ref_total > 0
            THEN ROUND(2.0 * CAST(matched AS DOUBLE)
                       / CAST(cand_total + ref_total AS DOUBLE), 6)
       END AS f1_6
FROM cells
"""


@register(
    "pipe_eval_rouge",
    oracle=_ROUGE_ORACLE,
    doc="corpus ROUGE-1/2/L (evalmetrics.corpus_rouge, Lin 2004) — the "
    "summarization member of the eval family: three metric rows with "
    "integer cells + micro P/R/F (the repo's corpus-level convention, "
    "stated vs the per-sentence-averaged variant).  ROUGE-N rows "
    "use BLEU's clipped multiset intersection (read recall-wise) "
    "and ROUGE-L's per-pair LCS rides Hyyro's bit-parallel "
    "recurrence over Python bigints, both in evalmetrics' one "
    "adjudicated Arrow fold (_clip_fold) — and the ORACLE replays the SAME recurrence "
    "over HUGEINT masks in a recursive CTE, so the two engines "
    "cross-check two independent implementations of one algorithm "
    "(the classic DP is the third, in tests).  Pairs stress real LCS "
    "structure: doc_id%3 picks drop-every-7th (subsequence), full "
    "REVERSAL (LCS collapses to repeated-token runs), or a half-swap "
    "block move (LCS ~ half) of the first 40 tokens.  Exchanges: "
    "O(partitions) partial rows from the one fold, nothing "
    "corpus-sized",
)
def pipe_eval_rouge(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.slice(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda x: x != F.lit(""),
        ),
        1,
        40,
    )
    mod3 = F.col("doc_id") % 3
    ct = (
        F.when(mod3 == 0, F.filter(rt, lambda x, i: i % F.lit(7) != F.lit(3)))
        .when(mod3 == 1, F.reverse(rt))
        .otherwise(F.concat(F.slice(rt, 21, 20), F.slice(rt, 1, 20)))
    )
    pairs = d.select(
        "doc_id",
        F.concat_ws(" ", ct).alias("cand"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.corpus_rouge(pairs, "doc_id", "cand", "ref", max_n=2)


_ROUGE_BY_SYSTEM_ORACLE = """
WITH RECURSIVE
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '')[1:40] AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'drop7'
                         WHEN 1 THEN 'reverse'
                         ELSE 'blockswap' END AS system,
         rt,
         CASE doc_id % 3
           WHEN 0 THEN list_transform(
             list_filter(range(1, len(rt) + 1), i -> (i - 1) % 7 <> 3),
             i -> rt[i])
           WHEN 1 THEN list_reverse(rt)
           ELSE list_concat(rt[21:40], rt[1:20])
         END AS ct
  FROM base
),
ns(n) AS (VALUES (1), (2)),
cg AS (
  SELECT doc_id, ns.n AS n,
         array_to_string(ct[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(ct) - ns.n + 2, 1))) AS u(i)
),
rg AS (
  SELECT doc_id, ns.n AS n,
         array_to_string(rt[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(rt) - ns.n + 2, 1))) AS u(i)
),
cc AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM cg GROUP BY doc_id, n, gram),
rc AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, n, gram),
nm AS (
  SELECT p.system, cc.n, CAST(SUM(LEAST(cc.c, rc.c)) AS BIGINT) AS matched
  FROM cc JOIN rc ON rc.doc_id = cc.doc_id AND rc.n = cc.n
                 AND rc.gram = cc.gram
          JOIN pair p ON p.doc_id = cc.doc_id
  GROUP BY p.system, cc.n
),
tot AS (
  SELECT system, ns.n AS n,
         CAST(SUM(greatest(len(ct) - ns.n + 1, 0)) AS BIGINT) AS cand_total,
         CAST(SUM(greatest(len(rt) - ns.n + 1, 0)) AS BIGINT) AS ref_total
  FROM pair CROSS JOIN ns GROUP BY system, ns.n
),
pm AS (
  SELECT doc_id, rt[ri.i] AS w,
         SUM(CAST(1 AS HUGEINT) << (ri.i - 1)) AS mask
  FROM pair, UNNEST(range(1, len(rt) + 1)) AS ri(i)
  GROUP BY doc_id, rt[ri.i]
),
steps AS (
  SELECT doc_id, 0 AS j,
         (CAST(1 AS HUGEINT) << len(rt)) - 1 AS v
  FROM pair
  UNION ALL
  SELECT s.doc_id, s.j + 1,
         ((s.v + u.u) | (s.v - u.u))
           & ((CAST(1 AS HUGEINT) << len(p.rt)) - 1) AS v
  FROM steps s
  JOIN pair p ON p.doc_id = s.doc_id
  LEFT JOIN pm ON pm.doc_id = s.doc_id AND pm.w = p.ct[s.j + 1],
  LATERAL (SELECT s.v & COALESCE(pm.mask, 0) AS u) u
  WHERE s.j < len(p.ct)
),
fin AS (
  SELECT p.system, len(p.rt) - bit_count(s.v) AS lcs,
         len(p.ct) AS lc, len(p.rt) AS lr
  FROM steps s JOIN pair p ON p.doc_id = s.doc_id
  WHERE s.j = len(p.ct)
),
cells AS (
  SELECT tot.system, 'rouge' || CAST(tot.n AS VARCHAR) AS metric,
         COALESCE(nm.matched, 0) AS matched,
         tot.cand_total, tot.ref_total
  FROM tot LEFT JOIN nm ON nm.n = tot.n AND nm.system = tot.system
  UNION ALL
  SELECT system, 'rougeL' AS metric,
         CAST(COALESCE(SUM(lcs), 0) AS BIGINT) AS matched,
         CAST(COALESCE(SUM(lc), 0) AS BIGINT) AS cand_total,
         CAST(COALESCE(SUM(lr), 0) AS BIGINT) AS ref_total
  FROM fin GROUP BY system
)
SELECT system, metric, matched, cand_total, ref_total,
       CASE WHEN cand_total > 0
            THEN ROUND(CAST(matched AS DOUBLE)
                       / CAST(cand_total AS DOUBLE), 6) END AS precision6,
       CASE WHEN ref_total > 0
            THEN ROUND(CAST(matched AS DOUBLE)
                       / CAST(ref_total AS DOUBLE), 6) END AS recall6,
       CASE WHEN cand_total + ref_total > 0
            THEN ROUND(2.0 * CAST(matched AS DOUBLE)
                       / CAST(cand_total + ref_total AS DOUBLE), 6)
       END AS f1_6
FROM cells
"""


@register(
    "pipe_eval_rouge_by_system",
    oracle=_ROUGE_BY_SYSTEM_ORACLE,
    doc="corpus ROUGE PER SYSTEM (evalmetrics.corpus_rouge_by_group) "
    "— the multi-system harness shape for the summarization metric, "
    "sliced exactly like per-system BLEU/chrF/WER: one row per "
    "(system, metric), 9 rows.  Systems ARE pipe_eval_rouge's LCS "
    "trio labeled (drop7 / reverse / blockswap), so the slices "
    "separate the metrics VISIBLY: reverse keeps rouge1 high while "
    "rougeL collapses, blockswap keeps rouge1 perfect while rougeL "
    "halves.  The one fold keys its counters on the group (exchange "
    "O(systems*metrics*partitions) rows) and the finisher is "
    "_rouge_finish VERBATIM — each group's rows equal the one-shot "
    "operator over that slice bit for bit, test-asserted",
)
def pipe_eval_rouge_by_system(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.slice(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda x: x != F.lit(""),
        ),
        1,
        40,
    )
    mod3 = F.col("doc_id") % 3
    system = (
        F.when(mod3 == 0, "drop7")
        .when(mod3 == 1, "reverse")
        .otherwise("blockswap")
    )
    ct = (
        F.when(mod3 == 0, F.filter(rt, lambda x, i: i % F.lit(7) != F.lit(3)))
        .when(mod3 == 1, F.reverse(rt))
        .otherwise(F.concat(F.slice(rt, 21, 20), F.slice(rt, 1, 20)))
    )
    pairs = d.select(
        "doc_id",
        system.alias("system"),
        F.concat_ws(" ", ct).alias("cand"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.corpus_rouge_by_group(
        pairs, "system", "doc_id", "cand", "ref", max_n=2
    )


def _boot_score_case() -> str:
    """The one-shot BLEU finisher as a per-row SQL expression over
    pivoted (m1..m4, t1..t4, rl) columns — the _BLEU oracle's calc
    section, reused for every bootstrap replicate row."""
    micro = " + ".join(
        f"CAST(FLOOR(ROUND(LN(CAST(m{n} AS DOUBLE) / CAST(t{n} AS DOUBLE)), 6)"
        f" * 1000000 + 0.5) AS BIGINT)"
        for n in (1, 2, 3, 4)
    )
    zeros = " OR ".join(f"m{n} = 0 OR t{n} = 0" for n in (1, 2, 3, 4))
    return f"""CASE WHEN ({zeros}) THEN 0.0
         ELSE ROUND(
           (CASE WHEN t1 >= rl THEN 1.0
                 ELSE ROUND(EXP(1.0 - CAST(rl AS DOUBLE)
                                / CAST(t1 AS DOUBLE)), 6) END)
           * ROUND(EXP(CAST({micro} AS DOUBLE) / 4000000.0), 6), 6)
    END"""


def _boot_pivot(src: str) -> str:
    cols = ", ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN m END), 0) AS m{n}, "
        f"COALESCE(MAX(CASE WHEN n = {n} THEN t END), 0) AS t{n}"
        for n in (1, 2, 3, 4)
    )
    return (
        f"SELECT {{key}} {cols}, "
        f"COALESCE(MAX(CASE WHEN n = 1 THEN r END), 0) AS rl FROM {src} "
        f"{{group}}"
    )


def _boot_side_sql(tag: str) -> str:
    """Weighted per-replicate scores for one side's per-doc cells."""
    pivot = _boot_pivot(f"p{tag}").format(key="b,", group="GROUP BY b")
    return f"""
p{tag} AS (
  SELECT w.b, c.n, SUM(c.m * w.w) AS m, SUM(c.t * w.w) AS t,
         SUM(c.r * w.w) AS r
  FROM cells_{tag} c JOIN w ON w.doc_id = c.doc_id GROUP BY w.b, c.n
),
f{tag} AS ({pivot}),
s{tag} AS (SELECT b, {_boot_score_case()} AS bleu FROM f{tag}),
g{tag} AS (SELECT n, SUM(m) AS m, SUM(t) AS t, SUM(r) AS r
           FROM cells_{tag} GROUP BY n),
ff{tag} AS ({_boot_pivot(f"g{tag}").format(key="", group="")}),
sf{tag} AS (SELECT {_boot_score_case()} AS bleu FROM ff{tag})"""


def _boot_cells_sql(tag: str, ct: str) -> str:
    """Per-doc clipped-match cells for one candidate column."""
    return f"""
cg{tag} AS (
  SELECT doc_id, ns.n AS n,
         array_to_string({ct}[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len({ct}) - ns.n + 2, 1))) AS u(i)
),
cc{tag} AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM cg{tag} GROUP BY doc_id, n, gram
),
m{tag} AS (
  SELECT cc{tag}.doc_id, cc{tag}.n,
         CAST(SUM(LEAST(cc{tag}.c, rc.c)) AS BIGINT) AS m
  FROM cc{tag} JOIN rc ON rc.doc_id = cc{tag}.doc_id AND rc.n = cc{tag}.n
                      AND rc.gram = cc{tag}.gram
  GROUP BY cc{tag}.doc_id, cc{tag}.n
),
cells_{tag} AS (
  SELECT p.doc_id, ns.n AS n, COALESCE(m{tag}.m, 0) AS m,
         greatest(len(p.{ct}) - ns.n + 1, 0) AS t,
         greatest(len(p.rt) - ns.n + 1, 0) AS r
  FROM pair p CROSS JOIN ns
  LEFT JOIN m{tag} ON m{tag}.doc_id = p.doc_id AND m{tag}.n = ns.n
)"""


_BOOT_WEIGHT_CASE = """CASE WHEN h.h6 < 367879 THEN 0 WHEN h.h6 < 735758 THEN 1
        WHEN h.h6 < 919698 THEN 2 WHEN h.h6 < 981011 THEN 3
        WHEN h.h6 < 996340 THEN 4 WHEN h.h6 < 999405 THEN 5
        WHEN h.h6 < 999916 THEN 6 WHEN h.h6 < 999989 THEN 7
        WHEN h.h6 < 999998 THEN 8 ELSE 9 END"""

_BLEU_BOOTSTRAP_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id, rt,
         list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 7 <> 3),
           i -> rt[i]) AS cta,
         list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 5 <> 2),
           i -> rt[i]) AS ctb
  FROM base
),
ns(n) AS (VALUES (1), (2), (3), (4)),
rg AS (
  SELECT doc_id, ns.n AS n,
         array_to_string(rt[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(rt) - ns.n + 2, 1))) AS u(i)
),
rc AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, n, gram
),
{_boot_cells_sql("a", "cta")},
{_boot_cells_sql("b", "ctb")},
bs AS (SELECT CAST(u.b AS BIGINT) AS b FROM UNNEST(range(0, 32)) AS u(b)),
w AS (
  SELECT p.doc_id, bs.b, {_BOOT_WEIGHT_CASE} AS w
  FROM pair p CROSS JOIN bs,
  LATERAL (
    SELECT CAST(('0x' || substr(md5('7:' || CAST(p.doc_id AS VARCHAR)
                                 || ':' || CAST(bs.b AS VARCHAR)), 1, 14))
                AS BIGINT) % 1000000 AS h6
  ) h
),
{_boot_side_sql("a")},
{_boot_side_sql("b")},
d AS (
  SELECT sa.b, ROUND(sa.bleu - sb.bleu, 6) AS d
  FROM sa JOIN sb ON sa.b = sb.b
),
dr AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rk FROM d)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pair) AS n_pairs,
       CAST(32 AS INTEGER) AS n_boot,
       (SELECT bleu FROM sfa) AS bleu_a6,
       (SELECT bleu FROM sfb) AS bleu_b6,
       ROUND((SELECT bleu FROM sfa) - (SELECT bleu FROM sfb), 6) AS delta6,
       (SELECT d FROM dr WHERE rk = 1) AS delta_lo6,
       (SELECT d FROM dr WHERE rk = 32) AS delta_hi6,
       (SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_pos,
       (SELECT CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_neg,
       ROUND((SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS DOUBLE)
              FROM d) / 32.0, 6) AS p_a_better6
"""


@register(
    "pipe_eval_bleu_bootstrap",
    oracle=_BLEU_BOOTSTRAP_ORACLE,
    doc="paired bootstrap significance for corpus BLEU "
    "(evalmetrics.bleu_paired_bootstrap, Koehn 2004) — the question "
    "the point metrics cannot answer: is system A's lead REAL or "
    "within resampling noise of this test set?  Systems are the "
    "drop-every-7th (A) vs drop-every-5th (B) corruptions; both are "
    "resampled with the SAME per-pair weights (pairing cancels "
    "test-set difficulty), 32 replicates.  Resampling is "
    "deterministic Poisson(1) — the distributed-bootstrap "
    "approximation of the multinomial resample, STATED — drawn from "
    "md5_56('seed:id:b') %% 1e6 against integer ppm thresholds "
    "hardcoded identically in this oracle, so weights, replicate "
    "scores and the nearest-rank 2.5/97.5 interval all replay "
    "bit-for-bit in SQL (the per-replicate score is the one-shot "
    "BLEU finisher VERBATIM under a groupBy on the replicate).  "
    "Exchanges: O(pairs * 4 * 32) integer cell rows, no text; the "
    "quantile step sorts 32 deltas inside one row.  Expected shape: "
    "delta > 0 with p_a_better = 1.0 — milder corruption wins in "
    "every resampled world",
)
def pipe_eval_bleu_bootstrap(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    pairs = d.select(
        "doc_id",
        F.concat_ws(
            " ", F.filter(rt, lambda x, i: i % F.lit(7) != F.lit(3))
        ).alias("ca"),
        F.concat_ws(
            " ", F.filter(rt, lambda x, i: i % F.lit(5) != F.lit(2))
        ).alias("cb"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.bleu_paired_bootstrap(
        pairs, "doc_id", "ca", "cb", "ref", max_n=4, n_boot=32, seed=7
    )


_WER_BOOT_SIDE = """
  SELECT doc_id,
         len(list_distinct(list_concat({ct}, rt))) <= 127 AS ok,
         CASE WHEN len(list_distinct(list_concat({ct}, rt))) <= 127
              THEN CAST(levenshtein(
           array_to_string(list_transform({ct},
             w -> chr(CAST(list_position(list_distinct(list_concat({ct}, rt)),
                                         w) AS INT))), ''),
           array_to_string(list_transform(rt,
             w -> chr(CAST(list_position(list_distinct(list_concat({ct}, rt)),
                                         w) AS INT))), '')
         ) AS BIGINT) END AS e,
         CAST(len(rt) AS BIGINT) AS rl
  FROM pair
"""

_WER_BOOTSTRAP_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '')[1:16] AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id, rt,
         list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 7 <> 3),
           i -> rt[i]) AS cta,
         list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 5 <> 2),
           i -> rt[i]) AS ctb
  FROM base
),
sa AS ({_WER_BOOT_SIDE.format(ct="cta")}),
sb AS ({_WER_BOOT_SIDE.format(ct="ctb")}),
cells AS (
  SELECT sa.doc_id, sa.e AS ea, sb.e AS eb, sa.rl,
         sa.ok AND sb.ok AS ok
  FROM sa JOIN sb ON sa.doc_id = sb.doc_id
),
kept AS (SELECT * FROM cells WHERE ok),
bs AS (SELECT CAST(u.b AS BIGINT) AS b FROM UNNEST(range(0, 32)) AS u(b)),
w AS (
  SELECT k.doc_id, bs.b, {_BOOT_WEIGHT_CASE} AS w
  FROM kept k CROSS JOIN bs,
  LATERAL (
    SELECT CAST(('0x' || substr(md5('7:' || CAST(k.doc_id AS VARCHAR)
                                 || ':' || CAST(bs.b AS VARCHAR)), 1, 14))
                AS BIGINT) % 1000000 AS h6
  ) h
),
per_b AS (
  SELECT w.b,
         CAST(SUM(k.ea * w.w) AS BIGINT) AS wea,
         CAST(SUM(k.eb * w.w) AS BIGINT) AS web,
         CAST(SUM(k.rl * w.w) AS BIGINT) AS wrl
  FROM kept k JOIN w ON w.doc_id = k.doc_id GROUP BY w.b
),
d AS (
  SELECT b,
         ROUND(
           (CASE WHEN wrl > 0
                 THEN ROUND(CAST(wea AS DOUBLE) / CAST(wrl AS DOUBLE), 6) END)
           - (CASE WHEN wrl > 0
                   THEN ROUND(CAST(web AS DOUBLE) / CAST(wrl AS DOUBLE), 6)
              END), 6) AS d
  FROM per_b
),
dr AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d NULLS FIRST) AS rk FROM d),
wtot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(ea) AS BIGINT) AS fea,
         CAST(SUM(eb) AS BIGINT) AS feb,
         CAST(SUM(rl) AS BIGINT) AS frl
  FROM kept
)
SELECT wtot.n_pairs,
       (SELECT CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
        FROM cells) AS n_pairs_dropped,
       CAST(32 AS INTEGER) AS n_boot,
       CASE WHEN frl > 0
            THEN ROUND(CAST(fea AS DOUBLE) / CAST(frl AS DOUBLE), 6)
       END AS wer_a6,
       CASE WHEN frl > 0
            THEN ROUND(CAST(feb AS DOUBLE) / CAST(frl AS DOUBLE), 6)
       END AS wer_b6,
       ROUND((CASE WHEN frl > 0
                   THEN ROUND(CAST(fea AS DOUBLE) / CAST(frl AS DOUBLE), 6)
              END)
             - (CASE WHEN frl > 0
                     THEN ROUND(CAST(feb AS DOUBLE) / CAST(frl AS DOUBLE), 6)
                END), 6) AS delta6,
       (SELECT d FROM dr WHERE rk = 1) AS delta_lo6,
       (SELECT d FROM dr WHERE rk = 32) AS delta_hi6,
       (SELECT CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_neg,
       (SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_pos,
       ROUND((SELECT CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS DOUBLE)
              FROM d) / 32.0, 6) AS p_a_better6
FROM wtot
"""


@register(
    "pipe_eval_wer_bootstrap",
    oracle=_WER_BOOTSTRAP_ORACLE,
    doc="paired bootstrap significance for corpus WER "
    "(evalmetrics.wer_paired_bootstrap) — the Koehn harness applied "
    "to the ERROR metric: drop-every-7th (A) vs drop-every-5th (B) "
    "on the first 16 tokens (the quadratic-in-length relabel encode "
    "runs TWICE here, so the face bounds pair length tighter than "
    "pipe_eval_wer's 40), same deterministic Poisson(1) weights from "
    "md5_56('seed:id:b') %% 1e6, same nearest-rank interval.  A wins "
    "when delta < 0 (fewer edits), so p_a_better counts NEGATIVE "
    "deltas — expected 1.0.  Pairs where EITHER side blows the "
    "alphabet are excluded from the whole experiment and counted "
    "(a paired test grades both systems on identical pair sets).  "
    "WER's cells are two integers per pair, so a replicate is one "
    "weighted ratio — the oracle replays weights, replicate ratios "
    "and rank selection verbatim; exchanges O(pairs * 32) integer "
    "rows",
)
def pipe_eval_wer_bootstrap(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.slice(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda x: x != F.lit(""),
        ),
        1,
        16,
    )
    pairs = d.select(
        "doc_id",
        F.concat_ws(
            " ", F.filter(rt, lambda x, i: i % F.lit(7) != F.lit(3))
        ).alias("ca"),
        F.concat_ws(
            " ", F.filter(rt, lambda x, i: i % F.lit(5) != F.lit(2))
        ).alias("cb"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.wer_paired_bootstrap(
        pairs, "doc_id", "ca", "cb", "ref", n_boot=32, seed=7
    )


def _rank_boot_perq_sql(tag: str, direction: str) -> str:
    """Per-query nDCG@10 CTEs for one ranking policy (the
    _RANKING_ORACLE pipeline parameterized by sort direction); gold /
    ng / ideal are shared across policies."""
    return f"""
res{tag} AS (
  SELECT o_custkey AS q, o_orderkey AS item,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice {direction}, o_orderkey)
           AS rnk
  FROM orders
),
topk{tag} AS (SELECT * FROM res{tag} WHERE rnk <= 10),
hits{tag} AS (
  SELECT t.q, t.rnk
  FROM topk{tag} t JOIN gold g ON t.q = g.q AND t.item = g.item
),
ha{tag} AS (
  SELECT q,
         SUM(CAST(ROUND(1.0 / log2(CAST(rnk AS DOUBLE) + 1.0), 6)
                  AS DECIMAL(18,6))) AS dcg
  FROM hits{tag} GROUP BY q
),
per{tag} AS (
  SELECT ng.q,
         CASE WHEN i.idcg > 0
              THEN ROUND(CAST(COALESCE(ha{tag}.dcg, 0) AS DOUBLE)
                         / CAST(i.idcg AS DOUBLE), 6)
         END AS ndcg
  FROM ng JOIN ideal i ON ng.q = i.q
  LEFT JOIN ha{tag} ON ng.q = ha{tag}.q
)"""


_RANKING_BOOTSTRAP_ORACLE = f"""
WITH gold AS (
  SELECT o_custkey AS q, o_orderkey AS item
  FROM orders WHERE o_orderstatus = 'F'
),
ng AS (SELECT q, COUNT(*) AS n_gold FROM gold GROUP BY q),
ideal AS (
  SELECT q, SUM(CAST(ROUND(1.0 / log2(CAST(pos AS DOUBLE) + 1.0), 6)
                     AS DECIMAL(18,6))) AS idcg
  FROM (SELECT q, ROW_NUMBER() OVER (PARTITION BY q ORDER BY item) AS pos
        FROM gold)
  WHERE pos <= 10 GROUP BY q
),
{_rank_boot_perq_sql("a", "DESC")},
{_rank_boot_perq_sql("b", "ASC")},
per AS (
  SELECT pa.q, pa.ndcg AS na, pb.ndcg AS nb
  FROM pera pa JOIN perb pb ON pa.q = pb.q
),
graded AS (SELECT * FROM per WHERE na IS NOT NULL AND nb IS NOT NULL),
bs AS (SELECT CAST(u.b AS BIGINT) AS b FROM UNNEST(range(0, 32)) AS u(b)),
w AS (
  SELECT g.q, bs.b, {_BOOT_WEIGHT_CASE} AS w
  FROM graded g CROSS JOIN bs,
  LATERAL (
    SELECT CAST(('0x' || substr(md5('7:' || CAST(g.q AS VARCHAR)
                                 || ':' || CAST(bs.b AS VARCHAR)), 1, 14))
                AS BIGINT) % 1000000 AS h6
  ) h
),
per_b AS (
  SELECT w.b,
         SUM(CAST(g.na AS DECIMAL(18,6)) * w.w) AS wa,
         SUM(CAST(g.nb AS DECIMAL(18,6)) * w.w) AS wb,
         CAST(SUM(w.w) AS BIGINT) AS ws
  FROM graded g JOIN w ON w.q = g.q GROUP BY w.b
),
d AS (
  SELECT b,
         ROUND(
           (CASE WHEN ws > 0
                 THEN ROUND(CAST(wa AS DOUBLE) / CAST(ws AS DOUBLE), 6) END)
           - (CASE WHEN ws > 0
                   THEN ROUND(CAST(wb AS DOUBLE) / CAST(ws AS DOUBLE), 6)
              END), 6) AS d
  FROM per_b
),
dr AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d NULLS FIRST) AS rk FROM d),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS fn,
         CAST(SUM(CAST(na AS DECIMAL(18,6))) AS DOUBLE) AS fa,
         CAST(SUM(CAST(nb AS DECIMAL(18,6))) AS DOUBLE) AS fb
  FROM graded
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM graded) AS n_queries,
       (SELECT CAST(SUM(CASE WHEN na IS NULL OR nb IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) FROM per) AS n_queries_ungraded,
       CAST(32 AS INTEGER) AS n_boot,
       CASE WHEN fn > 0 THEN ROUND(fa / CAST(fn AS DOUBLE), 6) END AS ndcg_a6,
       CASE WHEN fn > 0 THEN ROUND(fb / CAST(fn AS DOUBLE), 6) END AS ndcg_b6,
       ROUND((CASE WHEN fn > 0 THEN ROUND(fa / CAST(fn AS DOUBLE), 6) END)
             - (CASE WHEN fn > 0 THEN ROUND(fb / CAST(fn AS DOUBLE), 6) END),
             6) AS delta6,
       (SELECT d FROM dr WHERE rk = 1) AS delta_lo6,
       (SELECT d FROM dr WHERE rk = 32) AS delta_hi6,
       (SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_pos,
       (SELECT CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_neg,
       ROUND((SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS DOUBLE)
              FROM d) / 32.0, 6) AS p_a_better6
FROM tot
"""


@register(
    "pipe_eval_ranking_bootstrap",
    oracle=_RANKING_BOOTSTRAP_ORACLE,
    doc="paired bootstrap significance for nDCG@10 between two "
    "retrieval policies (ranking.ranking_paired_bootstrap) — the "
    "ranking member of the significance trio beside the BLEU and WER "
    "bootstraps: resample QUERIES (customers) with the shared "
    "deterministic Poisson(1) md5/ppm weights, the same weight "
    "applied to both policies' per-query nDCG (pairing cancels query "
    "difficulty), nearest-rank 2.5/97.5 interval over 32 weighted-"
    "mean deltas.  Policies: each customer's orders ranked by "
    "o_totalprice DESC (A) vs ASC (B) against 'F'-status binary gold "
    "— same gold, so both policies share the query universe and the "
    "zero-IDCG exclusions (binary gold: none, the column proves the "
    "accounting).  Per-replicate numerators are DECIMAL(18,6)-exact; "
    "the oracle replays weights, weighted means and rank selection — "
    "the resampling exchange is O(queries * 32) scalars, no lists",
)
def pipe_eval_ranking_bootstrap(spark, sf_dir):
    from ..operators import ranking
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    wa = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wb = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    res_a = o.select(
        F.col("o_custkey").alias("q"),
        F.col("o_orderkey").alias("item"),
        F.row_number().over(wa).alias("rnk"),
    )
    res_b = o.select(
        F.col("o_custkey").alias("q"),
        F.col("o_orderkey").alias("item"),
        F.row_number().over(wb).alias("rnk"),
    )
    gold = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("q"), F.col("o_orderkey").alias("item")
    )
    return ranking.ranking_paired_bootstrap(
        res_a, res_b, gold, "q", "item", "rnk", k=10, n_boot=32, seed=7
    )


def _chrf_boot_cells_sql(tag: str, cs: str) -> str:
    """Per-doc per-order chrF cells for one candidate char-string."""
    return f"""
cg{tag} AS (
  SELECT doc_id, ns.n AS n, substr({cs}, CAST(u.i AS INT), ns.n) AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len({cs}) - ns.n + 2, 1))) AS u(i)
),
cc{tag} AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM cg{tag} GROUP BY doc_id, n, gram
),
m{tag} AS (
  SELECT cc{tag}.doc_id, cc{tag}.n,
         CAST(SUM(LEAST(cc{tag}.c, rc.c)) AS BIGINT) AS m
  FROM cc{tag} JOIN rc ON rc.doc_id = cc{tag}.doc_id AND rc.n = cc{tag}.n
                      AND rc.gram = cc{tag}.gram
  GROUP BY cc{tag}.doc_id, cc{tag}.n
),
cells_{tag} AS (
  SELECT p.doc_id, ns.n AS n, COALESCE(m{tag}.m, 0) AS m,
         greatest(len(p.{cs}) - ns.n + 1, 0) AS t,
         greatest(len(p.rs) - ns.n + 1, 0) AS r
  FROM pair p CROSS JOIN ns
  LEFT JOIN m{tag} ON m{tag}.doc_id = p.doc_id AND m{tag}.n = ns.n
)"""


def _chrf_boot_pivot(src: str) -> str:
    cols = ", ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN m END), 0) AS m{n}, "
        f"COALESCE(MAX(CASE WHEN n = {n} THEN t END), 0) AS t{n}, "
        f"COALESCE(MAX(CASE WHEN n = {n} THEN r END), 0) AS r{n}"
        for n in (1, 2, 3, 4, 5, 6)
    )
    return f"SELECT {{key}} {cols} FROM {src} {{group}}"


def _chrf_boot_score_case() -> str:
    """The one-shot chrF finisher (chrf_from_cells, beta=2) as a
    per-row SQL expression over pivoted (m1..m6, t1..t6, r1..r6)
    columns — the SAME fixed-order 6-term addition chain as the _CHRF
    oracle's calc section, so the float accumulation order matches
    Spark's expression chain exactly."""
    p_terms = " + ".join(
        f"CASE WHEN t{n} = 0 THEN 0.0 "
        f"ELSE CAST(m{n} AS DOUBLE) / CAST(t{n} AS DOUBLE) END"
        for n in (1, 2, 3, 4, 5, 6)
    )
    r_terms = " + ".join(
        f"CASE WHEN r{n} = 0 THEN 0.0 "
        f"ELSE CAST(m{n} AS DOUBLE) / CAST(r{n} AS DOUBLE) END"
        for n in (1, 2, 3, 4, 5, 6)
    )
    return f"""CASE WHEN 4.0 * ((0.0 + {p_terms}) / 6.0)
                    + ((0.0 + {r_terms}) / 6.0) = 0.0 THEN 0.0
         ELSE ROUND(5.0 * ((0.0 + {p_terms}) / 6.0)
                    * ((0.0 + {r_terms}) / 6.0)
                    / (4.0 * ((0.0 + {p_terms}) / 6.0)
                       + ((0.0 + {r_terms}) / 6.0)), 6)
    END"""


def _chrf_boot_side_sql(tag: str) -> str:
    """Weighted per-replicate chrF + the full-corpus score for one
    side's per-doc cells."""
    pivot = _chrf_boot_pivot(f"p{tag}").format(key="b,", group="GROUP BY b")
    return f"""
p{tag} AS (
  SELECT w.b, c.n, SUM(c.m * w.w) AS m, SUM(c.t * w.w) AS t,
         SUM(c.r * w.w) AS r
  FROM cells_{tag} c JOIN w ON w.doc_id = c.doc_id GROUP BY w.b, c.n
),
f{tag} AS ({pivot}),
s{tag} AS (SELECT b, {_chrf_boot_score_case()} AS chrf FROM f{tag}),
g{tag} AS (SELECT n, SUM(m) AS m, SUM(t) AS t, SUM(r) AS r
           FROM cells_{tag} GROUP BY n),
ff{tag} AS ({_chrf_boot_pivot(f"g{tag}").format(key="", group="")}),
sf{tag} AS (SELECT {_chrf_boot_score_case()} AS chrf FROM ff{tag})"""


_CHRF_BOOTSTRAP_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id,
         regexp_replace(array_to_string(list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 7 <> 3),
           i -> rt[i]), ' '), '\\s+', '', 'g') AS csa,
         regexp_replace(array_to_string(list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 5 <> 2),
           i -> rt[i]), ' '), '\\s+', '', 'g') AS csb,
         regexp_replace(array_to_string(rt, ' '), '\\s+', '', 'g') AS rs
  FROM base
),
ns(n) AS (VALUES (1), (2), (3), (4), (5), (6)),
rg AS (
  SELECT doc_id, ns.n AS n, substr(rs, CAST(u.i AS INT), ns.n) AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(rs) - ns.n + 2, 1))) AS u(i)
),
rc AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, n, gram
),
{_chrf_boot_cells_sql("a", "csa")},
{_chrf_boot_cells_sql("b", "csb")},
bs AS (SELECT CAST(u.b AS BIGINT) AS b FROM UNNEST(range(0, 32)) AS u(b)),
w AS (
  SELECT p.doc_id, bs.b, {_BOOT_WEIGHT_CASE} AS w
  FROM pair p CROSS JOIN bs,
  LATERAL (
    SELECT CAST(('0x' || substr(md5('7:' || CAST(p.doc_id AS VARCHAR)
                                 || ':' || CAST(bs.b AS VARCHAR)), 1, 14))
                AS BIGINT) % 1000000 AS h6
  ) h
),
{_chrf_boot_side_sql("a")},
{_chrf_boot_side_sql("b")},
d AS (
  SELECT sa.b, ROUND(sa.chrf - sb.chrf, 6) AS d
  FROM sa JOIN sb ON sa.b = sb.b
),
dr AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rk FROM d)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pair) AS n_pairs,
       CAST(32 AS INTEGER) AS n_boot,
       (SELECT chrf FROM sfa) AS chrf_a6,
       (SELECT chrf FROM sfb) AS chrf_b6,
       ROUND((SELECT chrf FROM sfa) - (SELECT chrf FROM sfb), 6) AS delta6,
       (SELECT d FROM dr WHERE rk = 1) AS delta_lo6,
       (SELECT d FROM dr WHERE rk = 32) AS delta_hi6,
       (SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_pos,
       (SELECT CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_neg,
       ROUND((SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS DOUBLE)
              FROM d) / 32.0, 6) AS p_a_better6
"""


@register(
    "pipe_eval_chrf_bootstrap",
    oracle=_CHRF_BOOTSTRAP_ORACLE,
    doc="paired bootstrap significance for corpus chrF "
    "(evalmetrics.chrf_paired_bootstrap) — the round-13 verdict's "
    "named symmetry gap closed: the chrF instantiation of the Koehn "
    "2004 harness gets its ORACLE FACE like BLEU/WER/nDCG instead of "
    "remaining pytest-by-design.  Systems are the drop-every-7th (A) "
    "vs drop-every-5th (B) corruptions resampled with the SAME "
    "deterministic Poisson(1) md5/ppm weights (seed 7, 32 "
    "replicates); per-replicate scores are chrf_from_cells VERBATIM "
    "under a groupBy on the replicate, and the oracle replays the "
    "whole experiment — per-doc char-gram cells, integer weighted "
    "sums, the finisher's FIXED-ORDER 6-term float chain (the _CHRF "
    "oracle calc section per replicate row, so the accumulation "
    "order matches Spark's expression chain exactly), nearest-rank "
    "interval.  Exchanges: O(pairs * 6 * 32) integer cell rows, no "
    "text.  Expected: delta > 0, p_a_better 1.0 — milder corruption "
    "wins every resampled world",
)
def pipe_eval_chrf_bootstrap(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    pairs = d.select(
        "doc_id",
        F.concat_ws(
            " ", F.filter(rt, lambda x, i: i % F.lit(7) != F.lit(3))
        ).alias("ca"),
        F.concat_ws(
            " ", F.filter(rt, lambda x, i: i % F.lit(5) != F.lit(2))
        ).alias("cb"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.chrf_paired_bootstrap(
        pairs, "doc_id", "ca", "cb", "ref",
        max_n=6, beta=2.0, n_boot=32, seed=7,
    )


def _rouge_boot_gram_cells_sql(tag: str, ct: str) -> str:
    """Per-doc per-metric ROUGE-n gram cells for one candidate side."""
    return f"""
cg{tag} AS (
  SELECT doc_id, ns.n AS n,
         array_to_string({ct}[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len({ct}) - ns.n + 2, 1))) AS u(i)
),
cc{tag} AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM cg{tag} GROUP BY doc_id, n, gram
),
nm{tag} AS (
  SELECT cc{tag}.doc_id, cc{tag}.n,
         CAST(SUM(LEAST(cc{tag}.c, rc.c)) AS BIGINT) AS m
  FROM cc{tag} JOIN rc ON rc.doc_id = cc{tag}.doc_id AND rc.n = cc{tag}.n
                      AND rc.gram = cc{tag}.gram
  GROUP BY cc{tag}.doc_id, cc{tag}.n
)"""


def _rouge_boot_lcs_sql(tag: str, ct: str) -> str:
    """Per-doc Hyyro bit-parallel LCS for one candidate side — the
    _ROUGE_ORACLE recursive HUGEINT recurrence, per side (pm is
    shared: it depends only on the reference)."""
    return f"""
steps{tag} AS (
  SELECT doc_id, 0 AS j,
         (CAST(1 AS HUGEINT) << len(rt)) - 1 AS v
  FROM pair
  UNION ALL
  SELECT s.doc_id, s.j + 1,
         ((s.v + u.u) | (s.v - u.u))
           & ((CAST(1 AS HUGEINT) << len(p.rt)) - 1) AS v
  FROM steps{tag} s
  JOIN pair p ON p.doc_id = s.doc_id
  LEFT JOIN pm ON pm.doc_id = s.doc_id AND pm.w = p.{ct}[s.j + 1],
  LATERAL (SELECT s.v & COALESCE(pm.mask, 0) AS u) u
  WHERE s.j < len(p.{ct})
),
fin{tag} AS (
  SELECT s.doc_id, CAST(len(p.rt) - bit_count(s.v) AS BIGINT) AS lcs
  FROM steps{tag} s JOIN pair p ON p.doc_id = s.doc_id
  WHERE s.j = len(p.{ct})
)"""


def _rouge_boot_cells_sql(tag: str, ct: str) -> str:
    """Per-doc per-metric (rouge1/rouge2/rougeL) cells for one side."""
    return f"""
cells_{tag} AS (
  SELECT p.doc_id, 'rouge' || CAST(ns.n AS VARCHAR) AS metric,
         COALESCE(nm{tag}.m, 0) AS m,
         greatest(len(p.{ct}) - ns.n + 1, 0) AS c,
         greatest(len(p.rt) - ns.n + 1, 0) AS r
  FROM pair p CROSS JOIN ns
  LEFT JOIN nm{tag} ON nm{tag}.doc_id = p.doc_id AND nm{tag}.n = ns.n
  UNION ALL
  SELECT p.doc_id, 'rougeL' AS metric,
         COALESCE(fin{tag}.lcs, 0) AS m,
         CAST(len(p.{ct}) AS BIGINT) AS c,
         CAST(len(p.rt) AS BIGINT) AS r
  FROM pair p LEFT JOIN fin{tag} ON fin{tag}.doc_id = p.doc_id
)"""


def _rouge_boot_side_sql(tag: str) -> str:
    """Weighted per-replicate micro-F1 + the full-corpus F1 per
    metric for one side's per-doc cells."""
    f1 = """CASE WHEN (c + r) > 0
              THEN ROUND(2.0 * CAST(m AS DOUBLE)
                         / CAST(c + r AS DOUBLE), 6) END"""
    return f"""
p{tag} AS (
  SELECT c.metric, w.b, SUM(c.m * w.w) AS m, SUM(c.c * w.w) AS c,
         SUM(c.r * w.w) AS r
  FROM cells_{tag} c JOIN w ON w.doc_id = c.doc_id GROUP BY c.metric, w.b
),
s{tag} AS (SELECT metric, b, {f1} AS f1 FROM p{tag}),
g{tag} AS (SELECT metric, SUM(m) AS m, SUM(c) AS c, SUM(r) AS r
           FROM cells_{tag} GROUP BY metric),
sf{tag} AS (SELECT metric, {f1} AS f1 FROM g{tag})"""


_ROUGE_BOOTSTRAP_ORACLE = f"""
WITH RECURSIVE
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '')[1:40] AS rt
  FROM documents
),
pair AS MATERIALIZED (
  SELECT doc_id, rt,
         list_transform(
           list_filter(range(1, len(rt) + 1), i -> (i - 1) % 7 <> 3),
           i -> rt[i]) AS cta,
         list_reverse(rt) AS ctb
  FROM base
),
ns(n) AS (VALUES (1), (2)),
rg AS (
  SELECT doc_id, ns.n AS n,
         array_to_string(rt[u.i:u.i + ns.n - 1], ' ') AS gram
  FROM pair CROSS JOIN ns,
       UNNEST(range(1, greatest(len(rt) - ns.n + 2, 1))) AS u(i)
),
rc AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, n, gram
),
pm AS (
  SELECT doc_id, rt[ri.i] AS w,
         SUM(CAST(1 AS HUGEINT) << (ri.i - 1)) AS mask
  FROM pair, UNNEST(range(1, len(rt) + 1)) AS ri(i)
  GROUP BY doc_id, rt[ri.i]
),
{_rouge_boot_gram_cells_sql("a", "cta")},
{_rouge_boot_gram_cells_sql("b", "ctb")},
{_rouge_boot_lcs_sql("a", "cta")},
{_rouge_boot_lcs_sql("b", "ctb")},
{_rouge_boot_cells_sql("a", "cta")},
{_rouge_boot_cells_sql("b", "ctb")},
bs AS (SELECT CAST(u.b AS BIGINT) AS b FROM UNNEST(range(0, 32)) AS u(b)),
w AS (
  SELECT p.doc_id, bs.b, {_BOOT_WEIGHT_CASE} AS w
  FROM pair p CROSS JOIN bs,
  LATERAL (
    SELECT CAST(('0x' || substr(md5('7:' || CAST(p.doc_id AS VARCHAR)
                                 || ':' || CAST(bs.b AS VARCHAR)), 1, 14))
                AS BIGINT) % 1000000 AS h6
  ) h
),
{_rouge_boot_side_sql("a")},
{_rouge_boot_side_sql("b")},
d AS (
  SELECT sa.metric, sa.b, ROUND(sa.f1 - sb.f1, 6) AS d
  FROM sa JOIN sb ON sa.metric = sb.metric AND sa.b = sb.b
),
dr AS (SELECT metric, d,
              ROW_NUMBER() OVER (PARTITION BY metric ORDER BY d) AS rk
       FROM d),
summ AS (
  SELECT metric,
         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_delta_pos,
         CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_delta_neg
  FROM d GROUP BY metric
)
SELECT summ.metric,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pair) AS n_pairs,
       CAST(32 AS INTEGER) AS n_boot,
       sfa.f1 AS f1_a6,
       sfb.f1 AS f1_b6,
       ROUND(sfa.f1 - sfb.f1, 6) AS delta6,
       (SELECT d FROM dr WHERE dr.metric = summ.metric AND rk = 1)
         AS delta_lo6,
       (SELECT d FROM dr WHERE dr.metric = summ.metric AND rk = 32)
         AS delta_hi6,
       summ.n_delta_pos,
       summ.n_delta_neg,
       ROUND(CAST(summ.n_delta_pos AS DOUBLE) / 32.0, 6) AS p_a_better6
FROM summ
JOIN sfa ON sfa.metric = summ.metric
JOIN sfb ON sfb.metric = summ.metric
"""


@register(
    "pipe_eval_rouge_bootstrap",
    oracle=_ROUGE_BOOTSTRAP_ORACLE,
    doc="paired bootstrap significance for corpus ROUGE "
    "(evalmetrics.rouge_paired_bootstrap) — one row PER METRIC "
    "(rouge1/rouge2/rougeL), because a summarization comparison can "
    "be significant on unigram overlap and OPPOSITE on the LCS at "
    "the same time, and this face's systems are chosen to SHOW that: "
    "A drops every 7th token (all metrics degrade mildly), B "
    "REVERSES the reference (rouge1 PERFECT — bag of unigrams "
    "intact — while rouge2/rougeL collapse), so the three rows "
    "disagree about the winner by construction: rouge1 delta < 0 "
    "(p_a_better 0), rouge2/rougeL delta > 0 (p_a_better 1).  Same "
    "deterministic Poisson(1) md5/ppm weights (seed 7, 32 "
    "replicates) as the BLEU/chrF/WER/nDCG bootstraps; the oracle "
    "replays per-doc gram cells, BOTH sides' Hyyro bit-parallel LCS "
    "as recursive HUGEINT CTEs (pm shared — it depends only on the "
    "reference), integer weighted sums, per-replicate exact-integer "
    "F1, and the per-metric nearest-rank interval.  Closes the "
    "round-13 verdict's bootstrap symmetry gap together with "
    "pipe_eval_chrf_bootstrap",
)
def pipe_eval_rouge_bootstrap(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rt = F.slice(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda x: x != F.lit(""),
        ),
        1,
        40,
    )
    pairs = d.select(
        "doc_id",
        F.concat_ws(
            " ", F.filter(rt, lambda x, i: i % F.lit(7) != F.lit(3))
        ).alias("ca"),
        F.concat_ws(" ", F.reverse(rt)).alias("cb"),
        F.concat_ws(" ", rt).alias("ref"),
    )
    return evalmetrics.rouge_paired_bootstrap(
        pairs, "doc_id", "ca", "cb", "ref", max_n=2, n_boot=32, seed=7
    )


_AUC_CAL_SRC_SQL = """
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u1,
         CAST('0x' || substr(md5('12:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u2
  FROM documents
),
s AS (
  SELECT ROUND(CAST(u1 AS DOUBLE) / 1000000.0, 6) AS sc,
         CASE WHEN u2 * 1000000 < u1 * u1 THEN 1 ELSE 0 END AS y
  FROM h
)"""


@register(
    "pipe_eval_auc",
    oracle=f"""
WITH {_AUC_CAL_SRC_SQL},
ps AS (
  SELECT sc, SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
  FROM s GROUP BY sc
),
c AS (
  SELECT sc, np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY sc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM ps
),
agg AS (
  SELECT CAST(SUM(np + nn) AS BIGINT) AS n_samples,
         CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(nn) AS BIGINT) AS n_neg,
         CAST(SUM(np * (2 * below + nn)) AS BIGINT) AS numer2
  FROM c
)
SELECT n_samples, CAST(0 AS BIGINT) AS n_excluded, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN ROUND(CAST(numer2 AS DOUBLE)
                       / (2.0 * CAST(n_pos AS DOUBLE)
                          * CAST(n_neg AS DOUBLE)), 6) END AS auc6,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN ROUND(2.0 * ROUND(CAST(numer2 AS DOUBLE)
                       / (2.0 * CAST(n_pos AS DOUBLE)
                          * CAST(n_neg AS DOUBLE)), 6) - 1.0, 6)
       END AS gini6
FROM agg
""",
    doc="ROC AUC via the Mann-Whitney rank-sum identity "
    "(evalmetrics.auc_report) — the classifier-quality member of the "
    "eval family: the repo's quality models (probe_train, the n-gram "
    "scorer, quality_model_filter) emit scores, and this grades them "
    "against labels THRESHOLD-FREE, with AVERAGE-RANK tie handling "
    "computed ENTIRELY in exact integers until one final division "
    "(auc = sum over distinct scores of n_pos*(2*neg_below+n_neg) "
    "over 2*P*N — each tie group's positives pair against "
    "strictly-lower negatives plus HALF its own negatives, doubled "
    "into integer arithmetic).  Scores/labels derive deterministically "
    "from md5 ppm uniforms (label ~ Bernoulli(score^2) via an exact "
    "INTEGER compare u2*1e6 < u1*u1 — no transcendental), so both "
    "engines replay the whole experiment bit-for-bit.  Scale contract "
    "stated: scores ROUND at 6 first, so the post-groupBy windowed "
    "relation is DISTINCT ROUNDED SCORES (<= ~2e6 narrow integer rows "
    "whatever the corpus) — nothing corpus-sized sorts in one task, "
    "zero Python",
)
def pipe_eval_auc(spark, sf_dir):
    from ..operators.dedup import _md5_long

    d = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    u1 = _md5_long(sid, seed=11) % F.lit(1_000_000)
    u2 = _md5_long(sid, seed=12) % F.lit(1_000_000)
    rows = d.select(
        "doc_id",
        F.round(u1.cast("double") / F.lit(1_000_000.0), 6).alias("score"),
        (u2 * F.lit(1_000_000) < u1 * u1).cast("int").alias("label"),
    )
    return evalmetrics.auc_report(rows, "doc_id", "score", "label")


@register(
    "pipe_eval_calibration",
    oracle=f"""
WITH {_AUC_CAL_SRC_SQL},
b AS (
  SELECT LEAST(CAST(FLOOR(sc * 10) AS INT), 9) AS bin,
         CAST(sc AS DECIMAL(18,6)) AS c6, y
  FROM s
),
agg AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_correct,
         CAST(SUM(c6) AS DECIMAL(18,6)) AS conf_sum
  FROM b GROUP BY bin
),
gaps AS (
  SELECT bin, n, n_correct,
         ROUND(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc6,
         ROUND(CAST(conf_sum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avgc6
  FROM agg
),
g2 AS (
  SELECT bin, n, n_correct, acc6, avgc6,
         ROUND(ABS(acc6 - avgc6), 6) AS gap6
  FROM gaps
)
SELECT CAST(SUM(n) AS BIGINT) AS n_samples,
       CAST(0 AS BIGINT) AS n_excluded,
       CAST(10 AS INTEGER) AS n_bins,
       CAST(COUNT(*) AS INTEGER) AS n_bins_nonempty,
       ROUND(CAST(SUM(n_correct) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
         AS accuracy6,
       ROUND(CAST(SUM(CAST(avgc6 AS DECIMAL(18,6)) * CAST(n AS DECIMAL(18,0)))
                  AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS avg_conf6,
       ROUND(CAST(SUM(CAST(gap6 AS DECIMAL(18,6)) * CAST(n AS DECIMAL(18,0)))
                  AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS ece6,
       MAX(gap6) AS mce6
FROM g2
""",
    doc="expected/maximum calibration error (evalmetrics."
    "calibration_report; Naeini 2015 ECE, Guo 2017's evaluation form) "
    "— does the model's stated confidence MEAN anything?  The "
    "eval-family member every LLM leaderboard quotes beside accuracy. "
    "Confidences/correctness derive deterministically from md5 ppm "
    "uniforms with TRUE P(correct|conf) = conf^2 via the exact "
    "integer compare (a visibly OVERCONFIDENT model by construction: "
    "per-bin accuracy ~ conf^2 < conf, so ECE is large and every bin "
    "gap positive — the shape a calibration dashboard exists to "
    "catch).  ECE rides per-bin ROUND-6 gaps through exact DECIMAL "
    "weighted sums (bin-summation order can never change a bit); MCE "
    "is the order-proof max.  One map-side-combinable groupBy to 10 "
    "bins, then arithmetic over that bounded relation — no window, no "
    "Python, nothing corpus-sized past the first exchange",
)
def pipe_eval_calibration(spark, sf_dir):
    from ..operators.dedup import _md5_long

    d = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    u1 = _md5_long(sid, seed=11) % F.lit(1_000_000)
    u2 = _md5_long(sid, seed=12) % F.lit(1_000_000)
    rows = d.select(
        "doc_id",
        F.round(u1.cast("double") / F.lit(1_000_000.0), 6).alias("conf"),
        (u2 * F.lit(1_000_000) < u1 * u1).cast("int").alias("correct"),
    )
    return evalmetrics.calibration_report(
        rows, "doc_id", "conf", "correct", n_bins=10
    )


@register(
    "pipe_eval_spearman",
    oracle="""
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000 AS a_pm,
         CAST('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 500 AS b_noise
  FROM documents
),
s AS (
  SELECT ROUND(CAST(a_pm AS DOUBLE) / 1000.0, 6) AS a,
         ROUND(CAST(a_pm + b_noise AS DOUBLE) / 1000.0, 6) AS b
  FROM h
),
pairs AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY a, b),
va AS (SELECT a, SUM(n) AS nv FROM pairs GROUP BY a),
vb AS (SELECT b, SUM(n) AS nv FROM pairs GROUP BY b),
rka AS (
  SELECT a, 2 * COALESCE(SUM(nv) OVER (ORDER BY a
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + nv + 1 AS x
  FROM va
),
rkb AS (
  SELECT b, 2 * COALESCE(SUM(nv) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + nv + 1 AS y
  FROM vb
),
j AS (
  SELECT p.n, rka.x, rkb.y
  FROM pairs p JOIN rka USING (a) JOIN rkb USING (b)
),
cells AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_samples,
         CAST(SUM(n * x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(n * y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(n * x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(n * x * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(n * y * y) AS DECIMAL(38,0)) AS syy
  FROM j
)
SELECT n_samples,
       CAST(0 AS BIGINT) AS n_excluded,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM va) AS n_distinct_a,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM vb) AS n_distinct_b,
       CASE WHEN CAST(n_samples AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n_samples AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
            THEN ROUND(
              (CAST(n_samples AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / SQRT((CAST(n_samples AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n_samples AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       END AS rho6
FROM cells
""",
    doc="Spearman rank correlation between two scoring systems "
    "(evalmetrics.spearman_report) — the META-EVALUATION member of "
    "the eval family: does the LLM judge correlate with the human "
    "scores (the standard judge-validation statistic), or one "
    "quality model with another?  Average-rank tie handling, exact "
    "until the final combination: each side's ranks are DOUBLED "
    "average ranks r2 = 2*below + n_v + 1 over its DISTINCT ROUNDED "
    "SCORES (exact integers even for ties; Pearson is shift/scale "
    "invariant so doubling cancels), sufficient sums are exact "
    "DECIMAL(38,0), and the one float step is the closed-form "
    "combination over exact integers, identical in both engines, "
    "ROUNDed at 6.  Scores derive from md5 ppm uniforms on a COARSE "
    "1/1000 grid (real ties on both sides) with b = a + independent "
    "noise — rho visibly high but below 1.  Scale: the AUC design "
    "twice over — bounded rank tables (round-6 contract), bounded "
    "windows, broadcast join-backs, zero Python",
)
def pipe_eval_spearman(spark, sf_dir):
    from ..operators.dedup import _md5_long

    d = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    a_pm = _md5_long(sid, seed=11) % F.lit(1000)
    b_noise = _md5_long(sid, seed=13) % F.lit(500)
    rows = d.select(
        "doc_id",
        F.round(a_pm.cast("double") / F.lit(1000.0), 6).alias("judge"),
        F.round(
            (a_pm + b_noise).cast("double") / F.lit(1000.0), 6
        ).alias("human"),
    )
    return evalmetrics.spearman_report(rows, "doc_id", "judge", "human")


def _qa_boot_perq_sql(tag: str, pred_col: str) -> str:
    """One side's per-question (em, f1) grades over the shared ``raw``
    (qid, pred_a, pred_b, gold) relation — the _QA_ORACLE_BODY chain
    with tagged CTE names so the paired bootstrap can replay BOTH
    systems in one statement."""
    norm_p = _QA_NORM_SQL.format(src=pred_col)
    norm_g = _QA_NORM_SQL.format(src="gold")
    return f"""
norm_{tag} AS (
  SELECT DISTINCT doc_id AS qid, {norm_p} AS p, {norm_g} AS g FROM raw
),
toks_{tag} AS (
  SELECT qid, p, g,
         list_filter(regexp_split_to_array(p, '\\s+'), x -> x <> '') AS pt,
         list_filter(regexp_split_to_array(g, '\\s+'), x -> x <> '') AS gt
  FROM norm_{tag}
),
pc_{tag} AS (
  SELECT qid, g, u.w, COUNT(*) AS cp
  FROM toks_{tag}, UNNEST(pt) AS u(w) GROUP BY qid, g, u.w
),
gc_{tag} AS (
  SELECT qid, g, u.w, COUNT(*) AS cg
  FROM toks_{tag}, UNNEST(gt) AS u(w) GROUP BY qid, g, u.w
),
m_{tag} AS (
  SELECT pc_{tag}.qid, pc_{tag}.g, SUM(LEAST(cp, cg)) AS m
  FROM pc_{tag} JOIN gc_{tag} ON pc_{tag}.qid = gc_{tag}.qid
       AND pc_{tag}.g = gc_{tag}.g AND pc_{tag}.w = gc_{tag}.w
  GROUP BY pc_{tag}.qid, pc_{tag}.g
),
alt_{tag} AS (
  SELECT t.qid,
         CASE WHEN t.p = t.g THEN 1 ELSE 0 END AS em,
         CASE WHEN len(pt) = 0 OR len(gt) = 0
              THEN CASE WHEN t.p = t.g THEN CAST(1 AS DOUBLE)
                        ELSE CAST(0 AS DOUBLE) END
              ELSE ROUND(CAST(2 * COALESCE(m_{tag}.m, 0) AS DOUBLE)
                         / CAST(len(pt) + len(gt) AS DOUBLE), 6)
         END AS f1
  FROM toks_{tag} t
  LEFT JOIN m_{tag} ON t.qid = m_{tag}.qid AND t.g = m_{tag}.g
),
perq_{tag} AS (
  SELECT qid, MAX(em) AS em, MAX(f1) AS f1_6 FROM alt_{tag} GROUP BY qid
)"""


_QA_BOOTSTRAP_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
raw AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN array_to_string(tk[1:5], ' ')
              ELSE array_to_string(tk[3:7], ' ') END AS pred_a,
         array_to_string(list_reverse(tk[1:5]), ' ') AS pred_b,
         g.gold
  FROM base,
       LATERAL (VALUES (array_to_string(tk[1:5], ' ')),
                       (array_to_string(tk[1:4], ' '))) AS g(gold)
),
{_qa_boot_perq_sql("a", "pred_a")},
{_qa_boot_perq_sql("b", "pred_b")},
j AS MATERIALIZED (
  SELECT a.qid, a.em AS em_a, a.f1_6 AS f1_a, b2.em AS em_b, b2.f1_6 AS f1_b
  FROM perq_a a JOIN perq_b b2 USING (qid)
),
bs AS (SELECT CAST(u.b AS BIGINT) AS b FROM UNNEST(range(0, 32)) AS u(b)),
w AS (
  SELECT j.qid, bs.b, {_BOOT_WEIGHT_CASE} AS w
  FROM j CROSS JOIN bs,
  LATERAL (
    SELECT CAST(('0x' || substr(md5('7:' || CAST(j.qid AS VARCHAR)
                                 || ':' || CAST(bs.b AS VARCHAR)), 1, 14))
                AS BIGINT) % 1000000 AS h6
  ) h
),
perb AS (
  SELECT w.b, CAST(SUM(w.w) AS BIGINT) AS n,
         CAST(SUM(w.w * j.em_a) AS BIGINT) AS ea,
         CAST(SUM(w.w * j.em_b) AS BIGINT) AS eb,
         CAST(SUM(CAST(j.f1_a AS DECIMAL(18,6)) * w.w) AS DECIMAL(28,6))
             AS fa,
         CAST(SUM(CAST(j.f1_b AS DECIMAL(18,6)) * w.w) AS DECIMAL(28,6))
             AS fb
  FROM j JOIN w ON w.qid = j.qid GROUP BY w.b
),
reps AS (
  SELECT perb.b, m.metric,
         CASE WHEN n > 0 THEN ROUND(m.na / CAST(n AS DOUBLE), 6) END AS sa,
         CASE WHEN n > 0 THEN ROUND(m.nb / CAST(n AS DOUBLE), 6) END AS sb
  FROM perb,
       LATERAL (VALUES ('em', CAST(ea AS DOUBLE), CAST(eb AS DOUBLE)),
                       ('f1', CAST(fa AS DOUBLE), CAST(fb AS DOUBLE)))
           AS m(metric, na, nb)
),
d AS (SELECT metric, b, ROUND(sa - sb, 6) AS d FROM reps),
dr AS (SELECT metric, d,
              ROW_NUMBER() OVER (PARTITION BY metric ORDER BY d) AS rk
       FROM d),
agg AS (
  SELECT metric,
         MAX(CASE WHEN rk = 1 THEN d END) AS delta_lo6,
         MAX(CASE WHEN rk = 32 THEN d END) AS delta_hi6,
         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_delta_pos,
         CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_delta_neg
  FROM dr GROUP BY metric
),
f AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_questions,
         ROUND(CAST(SUM(em_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS ema,
         ROUND(CAST(SUM(em_b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS emb,
         ROUND(CAST(SUM(CAST(f1_a AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) AS f1a,
         ROUND(CAST(SUM(CAST(f1_b AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) AS f1b
  FROM j
),
fulls AS (
  SELECT m.metric, f.n_questions, m.sa AS score_a6, m.sb AS score_b6
  FROM f, LATERAL (VALUES ('em', f.ema, f.emb), ('f1', f.f1a, f.f1b))
              AS m(metric, sa, sb)
)
SELECT fulls.metric, fulls.n_questions, CAST(32 AS INTEGER) AS n_boot,
       fulls.score_a6, fulls.score_b6,
       ROUND(fulls.score_a6 - fulls.score_b6, 6) AS delta6,
       agg.delta_lo6, agg.delta_hi6, agg.n_delta_pos, agg.n_delta_neg,
       ROUND(CAST(agg.n_delta_pos AS DOUBLE) / 32.0, 6) AS p_a_better6
FROM fulls JOIN agg USING (metric)
"""


@register(
    "pipe_eval_qa_bootstrap",
    oracle=_QA_BOOTSTRAP_ORACLE,
    doc="paired bootstrap significance for extractive QA "
    "(evalmetrics.qa_paired_bootstrap) — the sixth and last member "
    "of the bootstrap family to gain an oracle face (it was the only "
    "pytest-by-design one; the r14 verdict's symmetry item).  Built "
    "to make EM and F1 DISAGREE about significance: system A answers "
    "the exact first-5-token gold on even questions and a 2-token-"
    "shifted window on odd ones; system B always answers the "
    "REVERSED gold — bag-of-tokens-preserving, so B holds F1 ~ 1 "
    "while scoring EM 0.  A wins EM in every resampled world "
    "(p_a_better = 1 on the em row), B wins F1 (p_a_better = 0 on "
    "the f1 row) — one experiment, two verdicts, which is the reason "
    "the operator emits one row PER METRIC.  Questions resample with "
    "the family's deterministic Poisson(1) md5/ppm weights "
    "(md5_56('7:qid:b') %% 1e6 against hardcoded integer "
    "thresholds); per-replicate scores are weighted means of the "
    "per-question grades — integer EM numerators, DECIMAL(18,6) F1 "
    "numerators — and the nearest-rank 2.5/97.5 interval replays "
    "bit-for-bit in SQL.  Exchanges: answer-token-sized for the two "
    "qa_em_f1 passes, then O(questions * 32) scalar grade rows",
)
def pipe_eval_qa_bootstrap(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tk = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    t5 = F.concat_ws(" ", F.slice(tk, 1, 5))
    t4 = F.concat_ws(" ", F.slice(tk, 1, 4))
    pred_a = F.when(F.col("doc_id") % 2 == 0, t5).otherwise(
        F.concat_ws(" ", F.slice(tk, 3, 5))
    )
    pred_b = F.concat_ws(" ", F.reverse(F.slice(tk, 1, 5)))
    rows = d.select(
        F.col("doc_id").alias("qid"),
        pred_a.alias("pred_a"),
        pred_b.alias("pred_b"),
        F.explode(F.array(t5, t4)).alias("gold"),
    )
    return evalmetrics.qa_paired_bootstrap(
        rows, "qid", "pred_a", "pred_b", "gold"
    )


@register(
    "pipe_eval_spearman_by_judge",
    oracle="""
WITH h AS (
  SELECT doc_id,
         'judge_' || CAST(doc_id % 3 AS VARCHAR) AS judge,
         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000 AS a_pm,
         CAST('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) AS bn
  FROM documents
),
s AS (
  SELECT judge,
         CASE WHEN doc_id % 7 <> 0
              THEN ROUND(CAST(a_pm AS DOUBLE) / 1000.0, 6) END AS a,
         ROUND(CAST(CASE doc_id % 3
                      WHEN 0 THEN a_pm + bn % 100
                      WHEN 1 THEN a_pm + bn % 500
                      ELSE bn % 1000 END AS DOUBLE) / 1000.0, 6) AS b
  FROM h
),
excl AS (
  SELECT judge,
         CAST(SUM(CASE WHEN a IS NULL OR b IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_excluded
  FROM s GROUP BY judge
),
ok AS (SELECT judge, a, b FROM s WHERE a IS NOT NULL AND b IS NOT NULL),
pairs AS (
  SELECT judge, a, b, CAST(COUNT(*) AS BIGINT) AS n
  FROM ok GROUP BY judge, a, b
),
va AS (SELECT judge, a, SUM(n) AS nv FROM pairs GROUP BY judge, a),
vb AS (SELECT judge, b, SUM(n) AS nv FROM pairs GROUP BY judge, b),
rka AS (
  SELECT judge, a, 2 * COALESCE(SUM(nv) OVER (PARTITION BY judge ORDER BY a
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + nv + 1 AS x
  FROM va
),
rkb AS (
  SELECT judge, b, 2 * COALESCE(SUM(nv) OVER (PARTITION BY judge ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + nv + 1 AS y
  FROM vb
),
jj AS (
  SELECT p.judge, p.n, rka.x, rkb.y
  FROM pairs p
  JOIN rka ON rka.judge = p.judge AND rka.a = p.a
  JOIN rkb ON rkb.judge = p.judge AND rkb.b = p.b
),
cells AS (
  SELECT judge, CAST(SUM(n) AS BIGINT) AS n_samples,
         CAST(SUM(n * x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(n * y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(n * x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(n * x * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(n * y * y) AS DECIMAL(38,0)) AS syy
  FROM jj GROUP BY judge
),
nda AS (SELECT judge, CAST(COUNT(*) AS BIGINT) AS n_distinct_a
        FROM va GROUP BY judge),
ndb AS (SELECT judge, CAST(COUNT(*) AS BIGINT) AS n_distinct_b
        FROM vb GROUP BY judge)
SELECT e.judge,
       COALESCE(c.n_samples, 0) AS n_samples,
       e.n_excluded,
       COALESCE(nda.n_distinct_a, 0) AS n_distinct_a,
       COALESCE(ndb.n_distinct_b, 0) AS n_distinct_b,
       CASE WHEN CAST(c.n_samples AS DOUBLE) * CAST(c.sxx AS DOUBLE)
                 - CAST(c.sx AS DOUBLE) * CAST(c.sx AS DOUBLE) > 0
             AND CAST(c.n_samples AS DOUBLE) * CAST(c.syy AS DOUBLE)
                 - CAST(c.sy AS DOUBLE) * CAST(c.sy AS DOUBLE) > 0
            THEN ROUND(
              (CAST(c.n_samples AS DOUBLE) * CAST(c.sxy AS DOUBLE)
               - CAST(c.sx AS DOUBLE) * CAST(c.sy AS DOUBLE))
              / SQRT((CAST(c.n_samples AS DOUBLE) * CAST(c.sxx AS DOUBLE)
                      - CAST(c.sx AS DOUBLE) * CAST(c.sx AS DOUBLE))
                     * (CAST(c.n_samples AS DOUBLE) * CAST(c.syy AS DOUBLE)
                        - CAST(c.sy AS DOUBLE) * CAST(c.sy AS DOUBLE))), 6)
       END AS rho6
FROM excl e
LEFT JOIN cells c USING (judge)
LEFT JOIN nda USING (judge)
LEFT JOIN ndb USING (judge)
""",
    doc="Spearman rank correlation PER JUDGE "
    "(evalmetrics.spearman_report with group_col) — the r14 "
    "verdict's optional item 8: the judge-validation statistic is "
    "most useful SLICED per judge (which LLM judge tracks the human "
    "scores, which has drifted?), and the grouped path existed "
    "without a face.  Three judges with planted correlation tiers: "
    "judge_0 = human + small noise (rho near 1), judge_1 = human + "
    "medium noise, judge_2 = independent uniforms (rho near 0); "
    "every 7th question's judge score is NULL — EXCLUDED AND COUNTED "
    "per group, exercising the exclusion path the round-15 "
    "fully-excluded-group fix hardened (excl left-joins cells, so "
    "even an all-NULL judge would keep its row).  Grouped = sliced "
    "one-shot by construction: the group key rides the row "
    "projection into every aggregation and both bounded rank "
    "windows partition by it — same two-scan shape, same "
    "DECIMAL(38,0) summand sums, zero Python",
)
def pipe_eval_spearman_by_judge(spark, sf_dir):
    from ..operators.dedup import _md5_long

    d = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    mod3 = F.col("doc_id") % 3
    a_pm = _md5_long(sid, seed=11) % F.lit(1000)
    bn = _md5_long(sid, seed=13)
    human_pm = (
        F.when(mod3 == 0, a_pm + bn % 100)
        .when(mod3 == 1, a_pm + bn % 500)
        .otherwise(bn % 1000)
    )
    rows = d.select(
        "doc_id",
        F.concat(F.lit("judge_"), mod3.cast("string")).alias("judge"),
        F.when(
            F.col("doc_id") % 7 != 0,
            F.round(a_pm.cast("double") / F.lit(1000.0), 6),
        ).alias("judge_score"),
        F.round(human_pm.cast("double") / F.lit(1000.0), 6).alias(
            "human_score"
        ),
    )
    return evalmetrics.spearman_report(
        rows, "doc_id", "judge_score", "human_score", group_col="judge"
    )


@register(
    "pipe_eval_pr",
    oracle="""
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u1,
         CAST('0x' || substr(md5('12:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u2
  FROM documents
),
s AS (
  SELECT ROUND(CAST(u1 AS DOUBLE) / 1000000.0, 6) AS sc,
         CASE WHEN u2 * 1000000 < u1 * u1 THEN 1 ELSE 0 END AS y
  FROM h
),
g AS (
  SELECT sc, CAST(SUM(y) AS BIGINT) AS np,
         CAST(SUM(1 - y) AS BIGINT) AS nn
  FROM s GROUP BY sc
),
t AS (
  SELECT CAST(SUM(np) AS BIGINT) AS p, CAST(SUM(nn) AS BIGINT) AS n FROM g
),
b AS (
  SELECT sc, np,
         SUM(np) OVER (ORDER BY sc DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         SUM(nn) OVER (ORDER BY sc DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
  FROM g
),
pb AS (
  SELECT b.sc, b.np,
         ROUND(CAST(b.tp AS DOUBLE) / CAST(b.tp + b.fp AS DOUBLE), 6)
             AS prec6,
         ROUND(2.0 * CAST(b.tp AS DOUBLE)
               / CAST(b.tp + b.fp + t.p AS DOUBLE), 6) AS f16,
         ROUND(CAST(b.tp AS DOUBLE) / CAST(t.p AS DOUBLE), 6) AS rec6
  FROM b, t
),
cells AS (
  SELECT CAST(SUM(CAST(np AS DECIMAL(18,0)) * CAST(prec6 AS DECIMAL(18,6)))
              AS DECIMAL(38,6)) AS ap_sum
  FROM pb
),
best AS (
  SELECT f16, sc, prec6, rec6 FROM pb ORDER BY f16 DESC, sc DESC LIMIT 1
)
SELECT (SELECT p + n FROM t) AS n_samples,
       CAST(0 AS BIGINT) AS n_excluded,
       (SELECT p FROM t) AS n_pos,
       (SELECT n FROM t) AS n_neg,
       CASE WHEN (SELECT p FROM t) > 0 THEN
         ROUND(CAST((SELECT ap_sum FROM cells) AS DOUBLE)
               / CAST((SELECT p FROM t) AS DOUBLE), 6) END AS ap6,
       CASE WHEN (SELECT p FROM t) > 0
            THEN (SELECT f16 FROM best) END AS best_f1_6,
       CASE WHEN (SELECT p FROM t) > 0
            THEN (SELECT sc FROM best) END AS best_f1_threshold6,
       CASE WHEN (SELECT p FROM t) > 0
            THEN (SELECT prec6 FROM best) END AS best_f1_precision6,
       CASE WHEN (SELECT p FROM t) > 0
            THEN (SELECT rec6 FROM best) END AS best_f1_recall6
""",
    doc="precision-recall report (evalmetrics.pr_report) — average "
    "precision (AUPRC, the sklearn one-threshold-per-tie-block "
    "convention over DISTINCT ROUNDED SCORES, descending) plus the "
    "best-F1 operating point, the class-imbalance-honest companion "
    "to pipe_eval_auc on the SAME scored corpus (u1 md5 ppm scores, "
    "label ~ Bernoulli(score^2) via the exact integer compare) — a "
    "curation pipeline reads AP where AUC flatters rare positives, "
    "and deploys its quality model at the reported threshold.  "
    "Order-proof by construction: per-block precision ROUNDED at 6 "
    "rides an exact DECIMAL weighted sum over integer block weights "
    "(the calibration ece6 recipe), the argmax is one struct max "
    "with the higher-threshold tiebreak, and the one float step is "
    "the final division by n_pos.  Scale: the one corpus-sized "
    "exchange is the shared pinned (score -> class counts) "
    "aggregation (auc_report's relation, literally — "
    "_binary_score_groups); window, join-back, DECIMAL fold and "
    "argmax all run over <= ~1e6+1 bounded rows.  Zero Python",
)
def pipe_eval_pr(spark, sf_dir):
    from ..operators.dedup import _md5_long

    d = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    u1 = _md5_long(sid, seed=11) % F.lit(1_000_000)
    u2 = _md5_long(sid, seed=12) % F.lit(1_000_000)
    rows = d.select(
        "doc_id",
        F.round(u1.cast("double") / F.lit(1_000_000.0), 6).alias("score"),
        (u2 * F.lit(1_000_000) < u1 * u1).cast("int").alias("label"),
    )
    return evalmetrics.pr_report(rows, "doc_id", "score", "label")


_AUC_BOOTSTRAP_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u1,
         CAST('0x' || substr(md5('12:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u2,
         CAST('0x' || substr(md5('14:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u4,
         CAST('0x' || substr(md5('15:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u5
  FROM documents
),
s AS MATERIALIZED (
  SELECT doc_id,
         ROUND(CAST(u1 AS DOUBLE) / 1000000.0, 6) AS sa,
         ROUND(CAST(CASE WHEN u4 < 700000 THEN u1 ELSE u5 END AS DOUBLE)
               / 1000000.0, 6) AS sb,
         CASE WHEN u2 * 1000000 < u1 * u1 THEN 1 ELSE 0 END AS y
  FROM h
),
bs AS (SELECT CAST(u.b AS BIGINT) AS b FROM UNNEST(range(0, 32)) AS u(b)),
w AS (
  SELECT s.doc_id, bs.b, {_BOOT_WEIGHT_CASE} AS w
  FROM s CROSS JOIN bs,
  LATERAL (
    SELECT CAST(('0x' || substr(md5('7:' || CAST(s.doc_id AS VARCHAR)
                                 || ':' || CAST(bs.b AS VARCHAR)), 1, 14))
                AS BIGINT) % 1000000 AS h6
  ) h
),
sided AS (
  SELECT w.b, sv.side, sv.v,
         w.w * s.y AS wp, w.w * (1 - s.y) AS wn
  FROM s JOIN w ON w.doc_id = s.doc_id,
  LATERAL (VALUES ('a', s.sa), ('b', s.sb)) AS sv(side, v)
),
ps AS (
  SELECT b, side, v, CAST(SUM(wp) AS BIGINT) AS np,
         CAST(SUM(wn) AS BIGINT) AS nn
  FROM sided GROUP BY b, side, v
),
cum AS (
  SELECT b, side, np, nn,
         COALESCE(SUM(nn) OVER (PARTITION BY b, side ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM ps
),
rc AS (
  SELECT b, side, CAST(SUM(np) AS BIGINT) AS p,
         CAST(SUM(nn) AS BIGINT) AS n,
         CAST(SUM(CAST(np AS DECIMAL(19,0))
                  * CAST(2 * below + nn AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS numer2
  FROM cum GROUP BY b, side
),
ra AS (
  SELECT b, side,
         CASE WHEN p > 0 AND n > 0
              THEN ROUND(CAST(numer2 AS DOUBLE)
                         / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6)
         END AS auc
  FROM rc
),
d AS (
  SELECT x.b, ROUND(x.auc - y2.auc, 6) AS d
  FROM ra x JOIN ra y2 ON x.b = y2.b AND x.side = 'a' AND y2.side = 'b'
  WHERE x.auc IS NOT NULL AND y2.auc IS NOT NULL
),
dr AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rk FROM d),
fs AS (
  SELECT sv.side, sv.v, s.y
  FROM s, LATERAL (VALUES ('a', s.sa), ('b', s.sb)) AS sv(side, v)
),
fps AS (
  SELECT side, v, CAST(SUM(y) AS BIGINT) AS np,
         CAST(SUM(1 - y) AS BIGINT) AS nn
  FROM fs GROUP BY side, v
),
fcum AS (
  SELECT side, np, nn,
         COALESCE(SUM(nn) OVER (PARTITION BY side ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM fps
),
frc AS (
  SELECT side, CAST(SUM(np) AS BIGINT) AS p, CAST(SUM(nn) AS BIGINT) AS n,
         CAST(SUM(CAST(np AS DECIMAL(19,0))
                  * CAST(2 * below + nn AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS numer2
  FROM fcum GROUP BY side
),
fra AS (
  SELECT side,
         CASE WHEN p > 0 AND n > 0
              THEN ROUND(CAST(numer2 AS DOUBLE)
                         / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6)
         END AS auc
  FROM frc
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_samples,
       CAST(0 AS BIGINT) AS n_excluded,
       CAST(32 AS INTEGER) AS n_boot,
       (SELECT auc FROM fra WHERE side = 'a') AS auc_a6,
       (SELECT auc FROM fra WHERE side = 'b') AS auc_b6,
       ROUND((SELECT auc FROM fra WHERE side = 'a')
             - (SELECT auc FROM fra WHERE side = 'b'), 6) AS delta6,
       (SELECT d FROM dr WHERE rk = 1) AS delta_lo6,
       (SELECT d FROM dr WHERE rk = 32) AS delta_hi6,
       (SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_pos,
       (SELECT CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d) AS n_delta_neg,
       ROUND((SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS DOUBLE)
              FROM d)
             / (SELECT CAST(COUNT(*) AS DOUBLE) FROM d), 6) AS p_a_better6
"""


@register(
    "pipe_eval_auc_bootstrap",
    oracle=_AUC_BOOTSTRAP_ORACLE,
    doc="paired bootstrap significance for ROC AUC "
    "(evalmetrics.auc_paired_bootstrap) — is model A's AUC lead over "
    "model B real, or resampling noise?  The seventh member of the "
    "bootstrap family, on the classifier-quality metric: model A "
    "scores with the true signal (u1 md5 ppm, label ~ "
    "Bernoulli(score^2)); model B sees the same signal only 70% of "
    "the time and uniform noise otherwise — a strictly worse "
    "classifier whose lead-gap the resample prices.  ITEMS resample "
    "under the family's deterministic Poisson(1) md5/ppm weights; "
    "integer weights keep the weighted per-score class counts "
    "integral, so every replicate's average-rank Mann-Whitney "
    "numerator is the same exact-DECIMAL arithmetic auc_report uses, "
    "and the whole experiment — weights, 64 weighted rank-sums, "
    "deltas, nearest-rank interval — replays bit-for-bit in SQL.  "
    "Scale: ONE corpus-sized explode of scalar rows (rows x 32 "
    "replicates x 2 sides) into a map-side-combinable aggregation "
    "bounded by 2 * 32 * (1e6+1) rows; windows and the 32-delta "
    "quantile run over that bounded relation.  Zero Python",
)
def pipe_eval_auc_bootstrap(spark, sf_dir):
    from ..operators.dedup import _md5_long

    d = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    u1 = _md5_long(sid, seed=11) % F.lit(1_000_000)
    u2 = _md5_long(sid, seed=12) % F.lit(1_000_000)
    u4 = _md5_long(sid, seed=14) % F.lit(1_000_000)
    u5 = _md5_long(sid, seed=15) % F.lit(1_000_000)
    rows = d.select(
        "doc_id",
        F.round(u1.cast("double") / F.lit(1_000_000.0), 6).alias("score_a"),
        F.round(
            F.when(u4 < 700_000, u1).otherwise(u5).cast("double")
            / F.lit(1_000_000.0),
            6,
        ).alias("score_b"),
        (u2 * F.lit(1_000_000) < u1 * u1).cast("int").alias("label"),
    )
    return evalmetrics.auc_paired_bootstrap(
        rows, "doc_id", "score_a", "score_b", "label"
    )


_PR_BOOTSTRAP_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u1,
         CAST('0x' || substr(md5('12:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u2,
         CAST('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u3,
         CAST('0x' || substr(md5('14:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u4
  FROM documents
),
s AS MATERIALIZED (
  SELECT doc_id,
         ROUND(CAST(CASE WHEN u2 < 80000 AND u4 < 500000
                         THEN 900000 + u1 % 100000
                         ELSE u1 % 900000 END AS DOUBLE) / 1000000.0, 6)
             AS sa,
         ROUND(CAST(CASE WHEN u2 < 80000
                         THEN 550000 + u3 % 450000
                         ELSE u3 END AS DOUBLE) / 1000000.0, 6) AS sb,
         CASE WHEN u2 < 80000 THEN 1 ELSE 0 END AS y
  FROM h
),
bs AS (SELECT CAST(u.b AS BIGINT) AS b FROM UNNEST(range(-1, 32)) AS u(b)),
w AS (
  SELECT s.doc_id, bs.b,
         CASE WHEN bs.b = -1 THEN 1 ELSE {_BOOT_WEIGHT_CASE} END AS w
  FROM s CROSS JOIN bs,
  LATERAL (
    SELECT CAST(('0x' || substr(md5('7:' || CAST(s.doc_id AS VARCHAR)
                                 || ':' || CAST(bs.b AS VARCHAR)), 1, 14))
                AS BIGINT) % 1000000 AS h6
  ) h
),
sided AS (
  SELECT w.b, sv.side, sv.v,
         w.w * s.y AS wp, w.w * (1 - s.y) AS wn
  FROM s JOIN w ON w.doc_id = s.doc_id,
  LATERAL (VALUES ('a', s.sa), ('b', s.sb)) AS sv(side, v)
),
ps AS (
  SELECT b, side, v, CAST(SUM(wp) AS BIGINT) AS np,
         CAST(SUM(wn) AS BIGINT) AS nn
  FROM sided GROUP BY b, side, v
),
tot AS (
  SELECT b, side, CAST(SUM(np) AS BIGINT) AS p FROM ps GROUP BY b, side
),
blk AS (
  SELECT b, side, np,
         SUM(np) OVER (PARTITION BY b, side ORDER BY v DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         SUM(nn) OVER (PARTITION BY b, side ORDER BY v DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
  FROM ps WHERE np > 0 OR nn > 0
),
cells AS (
  SELECT b, side,
         CAST(SUM(CAST(np AS DECIMAL(18,0))
                  * CAST(ROUND(CAST(tp AS DOUBLE)
                               / CAST(tp + fp AS DOUBLE), 6)
                         AS DECIMAL(18,6)))
              AS DECIMAL(38,6)) AS ap_sum
  FROM blk GROUP BY b, side
),
rap AS (
  SELECT cells.b, cells.side,
         CASE WHEN tot.p > 0
              THEN ROUND(CAST(cells.ap_sum AS DOUBLE)
                         / CAST(tot.p AS DOUBLE), 6)
         END AS ap
  FROM cells JOIN tot ON cells.b = tot.b AND cells.side = tot.side
),
d AS (
  SELECT x.b, ROUND(x.ap - y2.ap, 6) AS d
  FROM rap x JOIN rap y2 ON x.b = y2.b AND x.side = 'a' AND y2.side = 'b'
  WHERE x.b >= 0 AND x.ap IS NOT NULL AND y2.ap IS NOT NULL
),
dr AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rk FROM d)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_samples,
       CAST(0 AS BIGINT) AS n_excluded,
       CAST(32 AS INTEGER) AS n_boot,
       (SELECT ap FROM rap WHERE b = -1 AND side = 'a') AS ap_a6,
       (SELECT ap FROM rap WHERE b = -1 AND side = 'b') AS ap_b6,
       ROUND((SELECT ap FROM rap WHERE b = -1 AND side = 'a')
             - (SELECT ap FROM rap WHERE b = -1 AND side = 'b'), 6)
           AS delta6,
       (SELECT d FROM dr WHERE rk = 1) AS delta_lo6,
       (SELECT d FROM dr WHERE rk = 32) AS delta_hi6,
       COALESCE((SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                             AS BIGINT) FROM d), 0) AS n_delta_pos,
       COALESCE((SELECT CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END)
                             AS BIGINT) FROM d), 0) AS n_delta_neg,
       ROUND((SELECT CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS DOUBLE)
              FROM d)
             / (SELECT CAST(COUNT(*) AS DOUBLE) FROM d), 6) AS p_a_better6
"""


@register(
    "pipe_eval_pr_bootstrap",
    oracle=_PR_BOOTSTRAP_ORACLE,
    doc="paired bootstrap significance for AVERAGE PRECISION "
    "(evalmetrics.pr_paired_bootstrap) — the eighth bootstrap, on the "
    "class-imbalance metric, built for the case where AUC and AP "
    "DISAGREE: 8% positives (u2 ppm draw); model A promotes half the "
    "positives above everything (u4 coin) and scores the rest as "
    "noise — high early precision; model B boosts EVERY positive "
    "mildly into the upper bulk — equal whole-ranking separation.  "
    "AUC reads the two as a coin flip (p_a_better ~0.53 at sf0.01) "
    "while AP calls A's lead in EVERY resampled world (p 1.0, delta "
    "+0.43) — the verdict only this harness can issue.  ITEMS "
    "resample under the family's deterministic Poisson(1) md5/ppm "
    "weights; integer weights keep the per-score class counts "
    "integral, so each replicate's AP is pr_report's exact fold "
    "(per-tie-block precision ROUNDED at 6 riding a DECIMAL sum "
    "over integer block weights) and the whole experiment replays "
    "bit-for-bit in SQL; the headline ap_a6/ap_b6 ride the "
    "weight-1 pseudo-replicate.  A zero-weight tie block is absent "
    "from its resampled world (as if resampled away).  Scale: ONE "
    "corpus-sized explode of scalar rows (rows x 33 x 2 sides) into "
    "a map-side-combinable aggregation bounded by 2 * 33 * (1e6+1) "
    "rows; the per-replicate tp/fp windows, DECIMAL ap folds and "
    "the 32-delta quantile run over that bounded relation.  Zero "
    "Python",
)
def pipe_eval_pr_bootstrap(spark, sf_dir):
    from ..operators.dedup import _md5_long

    d = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    u1 = _md5_long(sid, seed=11) % F.lit(1_000_000)
    u2 = _md5_long(sid, seed=12) % F.lit(1_000_000)
    u3 = _md5_long(sid, seed=13) % F.lit(1_000_000)
    u4 = _md5_long(sid, seed=14) % F.lit(1_000_000)
    y = u2 < 80_000
    rows = d.select(
        "doc_id",
        F.round(
            F.when(y & (u4 < 500_000), F.lit(900_000) + u1 % 100_000)
            .otherwise(u1 % 900_000)
            .cast("double")
            / F.lit(1_000_000.0),
            6,
        ).alias("score_a"),
        F.round(
            F.when(y, F.lit(550_000) + u3 % 450_000)
            .otherwise(u3)
            .cast("double")
            / F.lit(1_000_000.0),
            6,
        ).alias("score_b"),
        y.cast("int").alias("label"),
    )
    return evalmetrics.pr_paired_bootstrap(
        rows, "doc_id", "score_a", "score_b", "label"
    )


_KENDALL_ORACLE = """
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u1,
         CAST('0x' || substr(md5('12:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u2,
         CAST('0x' || substr(md5('14:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u4
  FROM documents
),
r AS (
  SELECT CAST(u1 % 11 AS DOUBLE) AS a,
         CASE WHEN u4 >= 30000
              THEN CAST(GREATEST(0, LEAST(10, u1 % 11 + u2 % 5 - 2))
                        AS DOUBLE) END AS b
  FROM h
),
cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM r WHERE b IS NOT NULL GROUP BY a, b
),
pr AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN x.b < y.b
                   THEN CAST(x.c AS DECIMAL(19,0))
                        * CAST(y.c AS DECIMAL(19,0)) END), 0)
              AS DECIMAL(38,0)) AS cc,
         CAST(COALESCE(SUM(CASE WHEN x.b > y.b
                   THEN CAST(x.c AS DECIMAL(19,0))
                        * CAST(y.c AS DECIMAL(19,0)) END), 0)
              AS DECIMAL(38,0)) AS dd
  FROM cells x JOIN cells y ON x.a < y.a
),
ma AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nda,
         CAST(SUM(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sta2
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY a)
),
mb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ndb,
         CAST(SUM(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS stb2
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY b)
),
cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
ct AS (
  SELECT CAST(SUM(CASE WHEN b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_samples,
         CAST(SUM(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_excluded
  FROM r
),
n2 AS (
  SELECT CAST(CAST(ct.n_samples AS DECIMAL(19,0))
              * CAST(ct.n_samples AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS nn
  FROM ct
)
SELECT ct.n_samples, ct.n_excluded,
       ma.nda AS n_distinct_a, mb.ndb AS n_distinct_b, cn.n_cells,
       CAST(pr.cc AS BIGINT) AS n_concordant,
       CAST(pr.dd AS BIGINT) AS n_discordant,
       CASE WHEN CAST(n2.nn - ma.sta2 AS DOUBLE) > 0
             AND CAST(n2.nn - mb.stb2 AS DOUBLE) > 0
            THEN ROUND(2.0 * CAST(pr.cc - pr.dd AS DOUBLE)
                       / SQRT(CAST(n2.nn - ma.sta2 AS DOUBLE)
                              * CAST(n2.nn - mb.stb2 AS DOUBLE)), 6)
       END AS tau_b6
FROM ct, ma, mb, cn, pr, n2
"""


@register(
    "pipe_eval_kendall",
    oracle=_KENDALL_ORACLE,
    doc="Kendall's tau-b (evalmetrics.kendall_report) — the second "
    "standard judge-validation statistic beside Spearman: pairwise "
    "ORDER AGREEMENT with the tie-correct denominator, on the "
    "statistic's actual use case — an 11-point judge grid (u1 ppm "
    "draw % 11) against a noisy judge (grid plus a {-2..+2} u2 "
    "perturbation, clamped), ~3% NULL second scores (u4 draw) "
    "excluded-and-counted.  Exact to the last float: C/D pair counts "
    "from ONE self-join over the joint distinct-score cells "
    "(DECIMAL(38,0) products), tie correction via the marginal-square "
    "identity n0 - n1 = (n^2 - sum t^2)/2 — no pair terms at all — "
    "and ONE float step (2*(C-D)/sqrt(...)), ROUNDed at 6, identical "
    "expression tree in both engines.  Scale: one corpus-sized "
    "joint-cell aggregation (map-side combinable, pinned), then "
    "everything runs over the bounded cells; the operator REFUSES "
    "continuous-score inputs past max_cells BEFORE building the "
    "quadratic join (the stated O(distinct^2) bound).  Zero Python",
)
def pipe_eval_kendall(spark, sf_dir):
    from ..operators.dedup import _md5_long

    d = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    u1 = _md5_long(sid, seed=11) % F.lit(1_000_000)
    u2 = _md5_long(sid, seed=12) % F.lit(1_000_000)
    u4 = _md5_long(sid, seed=14) % F.lit(1_000_000)
    rows = d.select(
        "doc_id",
        (u1 % 11).cast("double").alias("score_a"),
        F.when(
            u4 >= 30_000,
            F.greatest(
                F.lit(0), F.least(F.lit(10), u1 % 11 + u2 % 5 - 2)
            ).cast("double"),
        ).alias("score_b"),
    )
    return evalmetrics.kendall_report(rows, "doc_id", "score_a", "score_b")



_BRIER_ORACLE = """
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u1,
         CAST('0x' || substr(md5('12:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u2
  FROM documents
),
s AS (
  SELECT ROUND(CAST(u1 AS DOUBLE) / 1000000.0, 6) AS sc,
         CASE WHEN u2 * 1000000 < u1 * u1 THEN 1 ELSE 0 END AS y
  FROM h
),
g AS (
  SELECT sc, CAST(SUM(y) AS BIGINT) AS np,
         CAST(SUM(1 - y) AS BIGINT) AS nn
  FROM s GROUP BY sc
),
cl AS (
  SELECT sc, np, nn,
         GREATEST(LEAST(sc, 1.0 - 0.000001), 0.000001) AS c
  FROM g
),
cells AS (
  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(nn) AS BIGINT) AS n_neg,
         CAST(SUM(CAST(np AS DECIMAL(12,0))
                  * ((1 - CAST(sc AS DECIMAL(8,6)))
                     * (1 - CAST(sc AS DECIMAL(8,6))))
                  + CAST(nn AS DECIMAL(12,0))
                  * (CAST(sc AS DECIMAL(8,6)) * CAST(sc AS DECIMAL(8,6))))
              AS DECIMAL(38,12)) AS bsum,
         CAST(SUM(CAST(np AS DECIMAL(12,0))
                  * CAST(ROUND(-LN(c), 6) AS DECIMAL(18,6))
                  + CAST(nn AS DECIMAL(12,0))
                  * CAST(ROUND(-LN(1.0 - c), 6) AS DECIMAL(18,6)))
              AS DECIMAL(38,6)) AS llsum
  FROM cl
)
SELECT CAST(n_pos + n_neg AS BIGINT) AS n_samples,
       CAST(0 AS BIGINT) AS n_excluded,
       n_pos, n_neg,
       CASE WHEN n_pos + n_neg > 0
            THEN ROUND(CAST(bsum AS DOUBLE)
                       / CAST(n_pos + n_neg AS DOUBLE), 6) END AS brier6,
       CASE WHEN n_pos + n_neg > 0
            THEN ROUND(CAST(llsum AS DOUBLE)
                       / CAST(n_pos + n_neg AS DOUBLE), 6) END AS logloss6
FROM cells
"""


@register(
    "pipe_eval_brier",
    oracle=_BRIER_ORACLE,
    doc="proper-scoring-rules report (evalmetrics.brier_report) — Brier "
    "score AND log loss on pipe_eval_auc's scored corpus (u1 md5 ppm "
    "probabilities, label ~ Bernoulli(score^2) via the exact integer "
    "compare): AUC prices the RANKING, AP the early precision, ECE "
    "the binned calibration — Brier/log-loss price the probabilities "
    "themselves, the number a distillation or reward-model pipeline "
    "trains against.  Both ride the SAME pinned (rounded score -> "
    "class counts) relation as auc/pr (the sufficient statistic for "
    "any pointwise score functional, and the SAME binary-score store "
    "serves them streamed via brier_from_store).  Exact: (1-s)^2 and "
    "s^2 are exact DECIMALs at scale 12 over integer cell counts — "
    "no float aggregation; the -ln terms ROUND at 6 per distinct "
    "score (the registry's libm rule, sklearn's eps-clip at 1e-6) "
    "and ride an exact DECIMAL(38,6) integer-weighted sum; one "
    "rounded float division per metric.  Out-of-[0,1] scores are "
    "excluded-and-counted (none here by construction).  Scale: ONE "
    "corpus exchange (the shared pinned aggregation); both folds run "
    "over the bounded per-score relation.  Zero Python",
)
def pipe_eval_brier(spark, sf_dir):
    from ..operators.dedup import _md5_long

    d = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    u1 = _md5_long(sid, seed=11) % F.lit(1_000_000)
    u2 = _md5_long(sid, seed=12) % F.lit(1_000_000)
    rows = d.select(
        "doc_id",
        F.round(u1.cast("double") / F.lit(1_000_000.0), 6).alias("score"),
        (u2 * F.lit(1_000_000) < u1 * u1).cast("int").alias("label"),
    )
    return evalmetrics.brier_report(rows, "doc_id", "score", "label")


_PASS_AT_K_ORACLE = """
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 14)
              AS BIGINT) % 1000000 AS u1
  FROM documents
),
t AS (
  SELECT doc_id // 20 AS task,
         CASE WHEN u1 < 200000 + ((doc_id // 20) % 3) * 150000
              THEN 1 ELSE 0 END AS ok
  FROM h
),
pt AS (
  SELECT task, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(ok) AS BIGINT) AS c
  FROM t GROUP BY task
),
ks(k) AS (VALUES (1), (5), (10), (25)),
per AS (
  SELECT ks.k,
         CAST(ROUND(1.0 - list_reduce(list_prepend(1.0,
              list_transform(range(0, ks.k),
                i -> CAST(pt.n - pt.c - i AS DOUBLE)
                     / CAST(pt.n - i AS DOUBLE))),
              (acc, x) -> acc * x), 6) AS DECIMAL(18,6)) AS p6
  FROM pt CROSS JOIN ks WHERE pt.n >= ks.k
),
agg AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_tasks,
         CAST(SUM(p6) AS DECIMAL(38,6)) AS psum
  FROM per GROUP BY k
),
excl AS (
  SELECT ks.k,
         CAST(SUM(CASE WHEN pt.n < ks.k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tasks_excluded
  FROM pt CROSS JOIN ks GROUP BY ks.k
)
SELECT ks.k,
       COALESCE(agg.n_tasks, 0) AS n_tasks,
       COALESCE(excl.n_tasks_excluded, 0) AS n_tasks_excluded,
       CAST(0 AS BIGINT) AS n_rows_dropped,
       CASE WHEN COALESCE(agg.n_tasks, 0) > 0
            THEN ROUND(CAST(agg.psum AS DOUBLE)
                       / CAST(agg.n_tasks AS DOUBLE), 6)
       END AS pass_at_k6
FROM ks LEFT JOIN agg ON ks.k = agg.k LEFT JOIN excl ON ks.k = excl.k
ORDER BY ks.k
"""


@register(
    "pipe_eval_pass_at_k",
    oracle=_PASS_AT_K_ORACLE,
    doc="pass@k functional-correctness estimator (evalmetrics."
    "pass_at_k) — the HumanEval-convention unbiased estimator "
    "1 - C(n-c,k)/C(n,k) averaged over tasks (Chen et al. 2021), the "
    "number a code/reasoning eval pipeline actually reports: tasks "
    "are 20-sample doc_id blocks with three planted difficulty tiers "
    "(u1 ppm pass draws at 20/35/50%), graded at k = 1/5/10/25 — the "
    "25 row has NO eligible task and must still emit (NULL mean, all "
    "tasks excluded).  The per-task ratio is the fixed-order product "
    "prod (n-c-i)/(n-i) — free of the factorial overflow that caps "
    "exact-integer approaches at n ~ 128, bit-identical across "
    "engines as a left fold of IEEE ops (DuckDB replays it with "
    "list_reduce), exactly 1 when c > n-k (a zero factor) and "
    "exactly 0 when c = 0; per-task values ROUND at 6 and the corpus "
    "mean rides an exact DECIMAL sum.  Scale: ONE map-side-"
    "combinable per-task aggregation; the ks explode, fold and means "
    "run over |tasks| x |ks| narrow rows.  Zero Python",
)
def pipe_eval_pass_at_k(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    from ..operators.dedup import _md5_long

    sid = F.col("doc_id").cast("string")
    u1 = _md5_long(sid, seed=11) % F.lit(1_000_000)
    task = F.expr("doc_id div 20")
    rows = d.select(
        task.alias("task"),
        (u1 < F.lit(200_000) + (task % 3) * 150_000).cast("int").alias("ok"),
    )
    return evalmetrics.pass_at_k(rows, "task", "ok", ks=(1, 5, 10, 25))
