"""Deduplication operators for large-scale training-data pipelines.

All of these are engine extensions beyond the reference (SURVEY §2.4) —
the reference has no dedup surface at all.  Every operator is pure
DataFrame algebra (no Python UDFs, no ``collect()``), so Catalyst keeps
whole-stage codegen and the shuffle structure is explicit and scalable.

Hashing is MD5-derived (``conv(substr(md5(x),1,14),16,10)`` -> 56-bit
positive int) rather than ``xxhash64`` so a DuckDB oracle can reproduce
every hash bit-for-bit; at production scale swap ``_md5_long`` for
``F.xxhash64`` (same plan shape, faster JVM hash).

100 TB design notes
-------------------
* **exact_dedup** — one hash-partitioned shuffle on the dedup key; with
  a pre-bucketed table the shuffle disappears entirely.  Skewed keys
  (empty docs) are fine: the window only needs per-key local order.
* **minhash LSH** — the banding trick keeps candidate generation at
  O(n · bands) rows instead of O(n²) pairs: only documents agreeing on
  a full band collide, and the band-signature groupBy is an ordinary
  hash shuffle.  Band width trades recall vs candidate volume
  (P[collide] = 1-(1-j^r)^b for jaccard j).  The verification join that
  follows touches only candidate pairs.
* **simhash** — fingerprints are one narrow shuffle (explode words ->
  per-doc bit votes); pairing at scale should block on fingerprint
  prefixes (here, at test scale, a bounded self-join suffices).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .fanout import fan_out, fixed_point, pin
from .webgraph import _directed_edges


def _md5_long(col: Column, seed: int | None = None) -> Column:
    """Deterministic 56-bit positive hash, reproducible in DuckDB as
    ``CAST('0x' || substr(md5(...),1,14) AS BIGINT)``."""
    if seed is not None:
        col = F.concat_ws(":", F.lit(str(seed)), col)
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("bigint")


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    hash_shuffle_key: bool = False,
) -> DataFrame:
    """Keep the first row (by ``order_col``) of every duplicate group.

    The classic ``row_number() OVER (PARTITION BY key ORDER BY tiebreak)``
    formulation — deterministic, unlike ``dropDuplicates`` whose survivor
    depends on partitioning.

    ``hash_shuffle_key=True`` partitions the window by a 16-byte MD5
    digest of each key column instead of the column itself.  To be
    precise about what that buys: the exchange still ships the full row
    either way (the output needs it), so shuffle BYTES are unchanged —
    the win is the sort/partition KEY: the per-task sort and partitioner
    compare fixed 16-byte values instead of arbitrarily long document
    texts, which is what dominates the window's comparison cost on
    megabyte documents.  (When only the survivor IDs are needed, the
    truly minimal-shuffle shape is ``groupBy(digest).agg(min(id))`` —
    map-side combined — and a join back; ``incremental_dedup`` uses the
    projection-first pattern.)  Key columns must be STRING (digesting a
    cast of a complex/float key would change grouping semantics — e.g.
    ``0.0`` vs ``-0.0`` — so non-string keys are rejected; serialize
    explicitly first).  Results are identical to the raw-key path unless
    two distinct keys collide in 128 bits (~2^-64 at 10^10 rows).
    """
    if hash_shuffle_key:
        dtypes = {name.lower(): dt for name, dt in df.dtypes}
        missing = [c for c in key_cols if c.lower() not in dtypes]
        if missing:
            raise ValueError(
                f"hash_shuffle_key key columns not in the DataFrame: {missing}"
            )
        bad = {c: dtypes[c.lower()] for c in key_cols if dtypes[c.lower()] != "string"}
        if bad:
            raise ValueError(
                f"hash_shuffle_key requires string key columns, got {bad} — "
                "serialize non-string keys explicitly before hashing"
            )
        fp = {c: f"_fp_{c}" for c in key_cols}
        clash = sorted({*fp.values(), "_rn"} & {name for name, _ in df.dtypes})
        if clash:
            raise ValueError(
                f"hash_shuffle_key needs temp columns {clash} but the input "
                "already has them — rename or drop those columns first"
            )
        out = df
        for c, a in fp.items():
            out = out.withColumn(a, F.unhex(F.md5(F.col(c))))
        w = Window.partitionBy(*fp.values()).orderBy(order_col)
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", *fp.values())
        )
    if "_rn" in {name for name, _ in df.dtypes}:
        raise ValueError(
            "exact_dedup needs a temp column _rn but the input already has "
            "one — rename or drop it first"
        )
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_dedup(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Continual-ingest dedup: drop arriving documents whose content
    already exists in the historical corpus, then exact-dedup within the
    batch (deterministic min-id survivor).  Returns the surviving new
    rows as ``(id_col, fp_md5)``.

    Scale (100 TB corpus, any batch size): both sides reduce to MD5
    digest projections before anything joins — the fingerprint "store"
    is a digest column, not document text.  The membership test is a
    LEFT ANTI equi-join on the digest (corpus side distinct first,
    map-side combinable); when the corpus fingerprint relation is
    maintained as a bucketed table on ``fp_md5`` the per-batch join is
    co-located and shuffle-free on the corpus side.  In-batch dedup is
    :func:`exact_dedup` on the digest.

    NULL contents are treated as EQUAL to each other (digest coalesced
    to a sentinel): NULL-text arrivals dedupe against NULL-text corpus
    rows and against each other, instead of silently bypassing the
    anti-join under SQL null-equality.
    """
    fp = F.coalesce(F.md5(F.col(text_col)), F.lit("")).alias("fp_md5")
    nf = new.select(F.col(id_col), fp)
    cf = corpus.select(fp).distinct()
    fresh = nf.join(cf, "fp_md5", "left_anti")
    return exact_dedup(fresh, ["fp_md5"], id_col)


def _materialize_bucketed(
    rel: DataFrame, checkpoint_path: str, bucket_cols: list[str], n_buckets: int
) -> DataFrame:
    """Spill a multi-consumer narrow relation to a BUCKETED parquet table
    instead of ``.cache()``.

    The 100-TB alternative to pinning a corpus-sized intermediate in
    executor MEMORY_AND_DISK (docs/SCALE.md): the relation is written once,
    hash-bucketed on the downstream join/agg key, and every consumer reads
    it back through the catalog — the bucketed scan exposes the hash
    distribution to the planner, so groupBy/join on ``bucket_cols`` skips
    its Exchange entirely.

    The catalog entry is keyed by the ABSOLUTE path (relative and absolute
    spellings of the same location resolve to one table), so re-running
    the same pipeline overwrites in place.  Any earlier entry for the
    path is dropped first: a second call with different ``bucket_cols`` /
    ``n_buckets`` replaces the metadata rather than silently shadowing it.
    The entry persists for the session (it is the read path for the
    returned DataFrame); remote paths (s3://, hdfs://) are used verbatim.
    """
    spark = rel.sparkSession
    if "://" not in checkpoint_path:
        checkpoint_path = os.path.abspath(checkpoint_path)
    table_name = "lf_ckpt_" + hashlib.md5(checkpoint_path.encode()).hexdigest()[:12]
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    w = (
        rel.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .option("path", checkpoint_path)
    )
    w.saveAsTable(table_name)
    return spark.table(table_name)


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 13,
    checkpoint_path: str | None = None,
    checkpoint_buckets: int = 64,
) -> DataFrame:
    """Span-level exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): remove every token
    covered by a word ``ngram`` that occurs MORE THAN ONCE in the whole
    corpus (across documents or repeated within one), keeping the rest
    of each document intact.  The practical Spark substitute for the
    paper's suffix-array pass: suffix arrays need global sorted order,
    while duplicated-n-gram coverage is pure hash aggregation.

    Returns ``(id_col, clean_text, n_tokens, n_removed)`` for EVERY
    document (docs shorter than ``ngram`` tokens pass through whole;
    NULL text is treated as the empty document, never NULL output).

    Scale (100 TB): gram hashing is a projection + explode (one 16-byte
    MD5 per token position); the global duplicate test is one
    map-side-combinable count over digests — nothing wider than a
    digest shuffles until the per-doc start-position lists (bounded by
    duplicated positions, not tokens) join back for the rebuild.  The
    coverage filter is O(tokens x duplicated-spans) per document,
    JVM-side; heavily templated docs (every position duplicated) cost
    O(tokens^2/ngram) there — at that point the whole doc is
    boilerplate and cheaper to drop via exact/minhash dedup first.

    The gram relation feeds two consumers (the dup-count aggregate and
    the starts join).  By default it is ``.cache()``-ed — the CALLER owns
    the cache lifecycle (``spark.catalog.clearCache()`` or unpersist
    after the consuming action), same contract as
    :func:`minhash_near_duplicates`.  At corpus scale pass
    ``checkpoint_path`` instead: the gram relation is written ONCE as a
    parquet table bucketed on the gram digest (so the dup-count groupBy
    and the dup join both read it exchange-free) and nothing corpus-sized
    pins executor storage.
    """
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    # NULL text is treated as the empty document (mirrors incremental_dedup's
    # NULL handling; without it every output column would go NULL).
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
    base = df.select(F.col(id_col), toks.alias("_tk"), F.size(toks).alias("_nt"))
    # cached: the dup-count aggregate AND the starts join both consume the
    # gram relation — without this each branch re-tokenizes + re-hashes the
    # corpus (the minhash_near_duplicates lesson).  unhex: shuffle the
    # 16-byte digest, not its 32-char hex spelling.
    grams = base.where(F.col("_nt") >= ngram).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, _nt - {ngram}), i -> "
                f"named_struct('start', i, "
                f"'g', unhex(md5(concat_ws(' ', slice(_tk, i + 1, {ngram}))))))"
            )
        ).alias("_gr"),
    ).select(
        F.col(id_col), F.col("_gr.start").alias("_start"), F.col("_gr.g").alias("_g")
    )
    if checkpoint_path is not None:
        grams = _materialize_bucketed(grams, checkpoint_path, ["_g"], checkpoint_buckets)
    else:
        grams = grams.cache()
    dup = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_cnt")).where(
        F.col("_cnt") > 1
    )
    starts = (
        grams.join(dup.select("_g"), "_g")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_start")).alias("_ss"))
    )
    kept = F.expr(
        f"filter(transform(_tk, (t, j) -> named_struct('t', t, 'j', j)), "
        f"x -> NOT exists(coalesce(_ss, cast(array() as array<int>)), "
        f"s -> s <= x.j AND x.j < s + {ngram}))"
    )
    return (
        base.join(starts, id_col, "left")
        .withColumn("_kept", kept)
        .select(
            F.col(id_col),
            F.array_join(F.expr("transform(_kept, x -> x.t)"), " ").alias("clean_text"),
            F.col("_nt").alias("n_tokens"),
            (F.col("_nt") - F.size("_kept")).alias("n_removed"),
        )
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) long form — one row per distinct word n-gram per doc.

    The token array is materialized as its own projection column before
    the n-gram ``transform`` references it.  Capturing the ``split(...)``
    expression directly inside the lambda re-evaluates the split once per
    *element* (higher-order lambdas don't share captured subexpressions),
    which measured ~13x slower; a multi-referenced non-cheap column stops
    Catalyst's CollapseProject from inlining it back.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    gram = ", ".join(["x"] + [f"tk[i + {j}]" for j in range(1, n)])
    # slice length >= 0 guards short docs (sequence() would flip descending)
    grams = (
        f"transform(slice(tk, 1, greatest(size(tk) - {n - 1}, 0)), "
        f"(x, i) -> concat_ws(' ', {gram}))"
    )
    # Degenerate-parallelism guard (r17): the tokenize + n-gram
    # transform + explode runs wide on single-split scans (consumers
    # hash/count shingles — exact min-hashes and integer counts, so
    # partitioning cannot change a bit).
    return (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), toks.alias("tk"))
        .select(F.col(id_col), F.explode(F.array_distinct(F.expr(grams))).alias("shingle"))
    )


#: Modulus for the arithmetic minhash family — keeps every value < 2^56
#: so 64-bit products ``A_k * h`` never overflow under ANSI arithmetic
#: (h < 2^56, A_k <= 17 => product < 2^61).
_MINHASH_MOD = 72057594037927931


def _hash_family_expr(base_col: Column, k: int) -> Column:
    """k-th hash of the family: ``(A_k * h + B_k) mod M`` over one shared
    56-bit MD5 base hash.  One MD5 per shingle total — the family members
    are three integer ops each, instead of ``n_hashes`` MD5 evaluations."""
    return (base_col * F.lit(2 * k + 3) + F.lit(k * 1000003)) % F.lit(_MINHASH_MOD)


def doc_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, h): 56-bit hash per distinct shingle per doc.

    Downstream stages (signatures AND exact-Jaccard verification) work
    entirely on the 8-byte hash — the shingle strings never shuffle.
    Jaccard over hashed shingles is the standard formulation (hashing is
    what minhash assumes anyway); a 56-bit cross-doc collision perturbs
    one intersection count with probability ~|shingles|²/2^57.
    """
    sh = doc_shingles(df, id_col, text_col, n)
    return sh.select(F.col(id_col), _md5_long(F.col("shingle")).alias("h"))


def minhash_signatures(
    shingle_hashes: DataFrame, id_col: str, n_hashes: int = 8
) -> DataFrame:
    """Wide minhash signature: (id, n_sh, m0..m{n-1}) from (id, h).

    Single groupBy shuffle; the ``n_hashes`` mins partial-aggregate
    map-side, so the shuffle carries one narrow row per document.  The
    shingle-set cardinality ``n_sh`` rides along for free (the Jaccard
    verification needs it, and deriving it here saves a corpus re-scan).
    """
    mins = [
        F.min(_hash_family_expr(F.col("h"), k)).alias(f"m{k}")
        for k in range(n_hashes)
    ]
    return shingle_hashes.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"), *mins)


def _band_table(signatures: DataFrame, id_col: str, n_hashes: int, rows_per_band: int) -> DataFrame:
    n_bands = n_hashes // rows_per_band
    band_structs = []
    for b in range(n_bands):
        members = [F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(",", *[m.cast("string") for m in members]).alias("sig"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bs")
    ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    signatures_b: DataFrame | None = None,
) -> DataFrame:
    """Band the wide signatures and emit candidate pairs.

    Two docs become candidates iff ALL hashes inside some band agree —
    the LSH trick that avoids the O(n²) all-pairs comparison at scale.
    The band table is (n_docs * n_bands) narrow rows; the join is a
    hash-partitioned equi-join on (band, sig).

    Default (one signature table): a self-join emitting ``id_a < id_b``.
    With ``signatures_b`` (the continual-ingest shape): pairs BETWEEN
    the two tables — ``id_a`` from ``signatures``, ``id_b`` from
    ``signatures_b`` — with only an inequality guard, since the sides
    are distinct relations.
    """
    sigs = _band_table(signatures, id_col, n_hashes, rows_per_band)
    a = sigs.select(F.col(id_col).alias("id_a"), "band", "sig")
    if signatures_b is None:
        b = sigs.select(F.col(id_col).alias("id_b"), "band", "sig")
        pred = F.col("id_a") < F.col("id_b")
    else:
        b = _band_table(signatures_b, id_col, n_hashes, rows_per_band).select(
            F.col(id_col).alias("id_b"), "band", "sig"
        )
        pred = F.col("id_a") != F.col("id_b")
    return (
        a.join(b, ["band", "sig"])
        .where(pred)
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verified_pairs(
    shingles: DataFrame,
    candidates: DataFrame,
    id_col: str,
    threshold: float,
    counts: DataFrame | None = None,
    shingle_col: str = "shingle",
    shingles_b: DataFrame | None = None,
    counts_b: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keep >= threshold.

    Joins only the candidate pairs against the shingle sets — the
    expensive exact check is confined to the LSH survivors.
    ``counts`` is an optional pre-computed (id, n_sh) relation (e.g. from
    :func:`minhash_signatures`); omitted, it is derived from ``shingles``.
    ``shingle_col`` may be the hashed-shingle column, which keeps the
    intersection shuffle at 8 bytes per key.  ``shingles_b``/``counts_b``
    supply a distinct relation for the ``id_b`` side (the
    continual-ingest shape); omitted, both sides read ``shingles``.
    Output: (id_a, id_b, jaccard).
    """
    if counts is None:
        counts = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if shingles_b is None:
        shingles_b = shingles
    if counts_b is None:
        counts_b = (
            counts
            if shingles_b is shingles
            else shingles_b.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        )
    sa = shingles.select(F.col(id_col).alias("id_a"), shingle_col)
    sb = shingles_b.select(F.col(id_col).alias("id_b"), shingle_col)
    # the candidate set is tiny relative to the corpus; AQE turns these
    # joins into broadcast-hash joins at runtime without a manual hint
    inter = (
        candidates.join(sa, "id_a")
        .join(sb, ["id_b", shingle_col])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts_b.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
    checkpoint_path: str | None = None,
    checkpoint_buckets: int = 64,
) -> DataFrame:
    """Full fuzzy-dedup pipeline: shingle -> minhash -> LSH bands ->
    exact-Jaccard verification.  Output (id_a, id_b, jaccard).

    The hashed-shingle relation feeds the signature pass and both sides
    of the verification join; by default it is cached because it is
    narrow (id + 8-byte hash) and each consumer would otherwise
    re-tokenize + re-hash the corpus (measured 16s/branch at 50k docs) —
    the CALLER owns the cache lifecycle.  At 100 TB pass
    ``checkpoint_path``: the shingle-hash relation is written ONCE as a
    parquet table bucketed on ``id_col`` (the signature groupBy and the
    verification joins co-locate on it, exchange-free) and nothing
    corpus-sized pins executor MEMORY_AND_DISK.
    """
    hashes = doc_shingle_hashes(df, id_col, text_col, shingle_n)
    if checkpoint_path is not None:
        hashes = _materialize_bucketed(
            hashes, checkpoint_path, [id_col], checkpoint_buckets
        )
    else:
        hashes = hashes.cache()
    # pin the signature relation (r18, guide §1.4): it has FOUR plan
    # consumers (both band-table sides of the LSH self-join and both
    # n_sh count sides of the verification), and each prunes different
    # columns, so ReuseExchange never fires and the groupBy aggregation
    # over the whole hash relation re-ran per consumer.  One narrow row
    # per doc — the bounded-intermediate pin contract.  Measured at
    # sf0.1: 17 -> 10 jobs, ~0.7-1.2 s/call, pairs bit-identical.
    sig = pin(minhash_signatures(hashes, id_col, n_hashes))
    cand = lsh_candidate_pairs(sig, id_col, n_hashes, rows_per_band)
    return jaccard_verified_pairs(
        hashes, cand, id_col, threshold,
        counts=sig.select(id_col, "n_sh"), shingle_col="h",
    )


def minhash_incremental(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Continual-ingest FUZZY dedup: near-duplicate pairs BETWEEN
    arriving documents and the historical corpus — the MinHash face of
    :func:`incremental_dedup` (which handles exact content matches).
    Output ``(id_a, id_b, jaccard)`` with ``id_a`` from ``new`` and
    ``id_b`` from ``corpus``; callers drop arrivals appearing as
    ``id_a`` (or route them to survivor selection).

    Scale (100 TB corpus, any batch size): in production the corpus
    side's band table and shingle-hash relation are MAINTAINED stores
    (bucketed on (band, sig) and id respectively — each batch appends
    its own rows after dedup), so the per-batch cost is banding the
    batch + one co-located equi-join per relation; nothing corpus-sized
    is recomputed.  Here both sides derive inline — the plan shape is
    identical, and the band join is the same O(n·bands) candidate
    generation as the batch variant, never all-pairs.  The two hashed
    shingle relations are cached (each feeds its signature pass and the
    verification join); the CALLER owns the cache lifecycle, as in
    :func:`minhash_near_duplicates`.
    """
    nh = doc_shingle_hashes(new, id_col, text_col, shingle_n).cache()
    ch = doc_shingle_hashes(corpus, id_col, text_col, shingle_n).cache()
    # each signature table has two pruned consumers (band table +
    # n_sh counts) — pinned for the minhash_near_duplicates reason
    ns = pin(minhash_signatures(nh, id_col, n_hashes))
    cs = pin(minhash_signatures(ch, id_col, n_hashes))
    cand = lsh_candidate_pairs(ns, id_col, n_hashes, rows_per_band, signatures_b=cs)
    return jaccard_verified_pairs(
        nh, cand, id_col, threshold,
        counts=ns.select(id_col, "n_sh"), shingle_col="h",
        shingles_b=ch, counts_b=cs.select(id_col, "n_sh"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: Bits drawn from each seeded word hash (_md5_long yields 56; 48 leaves
#: headroom and divides evenly into seeds).
_SIMHASH_LANE_BITS = 48

#: Widest cross-engine-safe fingerprint: DuckDB BIGINT shifts overflow at
#: bit 63 (no wraparound), so the sign bit is unusable; 60 bits keeps both
#: engines in plain signed-BIGINT arithmetic and still gives 15-bit chunks
#: at max_hamming=3 — each pigeonhole equi-join key matches ~1/32768 of the
#: corpus (vs ~1/16 at the old 16-bit default).
SIMHASH_BITS = 60


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Per-doc SimHash fingerprint over distinct lowercased words.

    Bit j of the fingerprint is 1 iff the sum over words of
    ``(bit_j(hash(word)) ? +1 : -1)`` is positive.  One explode + one
    groupBy shuffle; the ``bits`` conditional sums are a single
    projection evaluated map-side.  Fingerprints wider than one hash's
    48 usable bits draw bit j from seeded hash ``j // 48`` (seed 0 is
    the unseeded hash, so narrow fingerprints stay byte-compatible with
    round-2 oracles); max supported width is 60 (see SIMHASH_BITS).
    """
    if bits > SIMHASH_BITS:
        raise ValueError(
            f"bits={bits} > {SIMHASH_BITS}: DuckDB BIGINT shifts overflow at "
            "bit 63, so wider fingerprints lose cross-engine reproducibility"
        )
    n_lanes = (bits + _SIMHASH_LANE_BITS - 1) // _SIMHASH_LANE_BITS
    # Degenerate-parallelism guard (r17): the explode + per-word md5
    # lanes + `bits` conditional votes are the heavy map side — fan the
    # projected rows out on single-split scans (integer votes).
    words = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
        ).alias("w"),
    )
    for k in range(n_lanes):
        words = words.withColumn(
            f"h{k}", _md5_long(F.col("w"), seed=k if k else None)
        )
    # The vote columns and the fingerprint fold are built as SQL text
    # and parsed in ONE expr call each: the Column-API loop issued ~10
    # py4j round trips per bit (~600 for 60-bit fingerprints), which
    # alone cost ~1 s of driver time per plan construction (measured;
    # Catalyst analysis/optimization of the same tree is <10 ms).  The
    # parsed expressions are semantically identical — same shiftright/
    # bitwiseAND/CASE arithmetic on the same lane columns.
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h{j // _SIMHASH_LANE_BITS},"
            f" {j % _SIMHASH_LANE_BITS}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = words.groupBy(id_col).agg(*votes)
    fingerprint = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    return agg.select(
        F.col(id_col), F.expr(f"CAST({fingerprint} AS BIGINT)").alias("simhash")
    )


def simhash_near_duplicates(
    fingerprints: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Pairs of fingerprints within ``max_hamming`` bits — EXACT, without
    the O(n²) self-join.

    Pigeonhole blocking: split the fingerprint into ``max_hamming + 1``
    chunks; any pair within the radius agrees on at least one whole
    chunk, so candidates are the union of equi-joins on (chunk index,
    chunk value) — plain hash-partitioned joins.  Selectivity grows with
    chunk width: the default 60-bit fingerprints give 15-bit chunks, so
    each equi-join key matches ~1/32768 of the corpus (see
    tools/scalecheck.py for measured candidate volumes); 16-bit/4-bit
    remains available as a compact test-scale parameter.
    Output (id_a, id_b, hamming).
    """
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    chunk_structs = []
    for c in range(n_chunks):
        lo = c * chunk_bits
        width = bits - lo if c == n_chunks - 1 else chunk_bits
        val = F.shiftright(F.col("simhash"), lo).bitwiseAND((1 << width) - 1)
        chunk_structs.append(F.struct(F.lit(c).alias("c"), val.alias("v")))
    chunked = fingerprints.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*chunk_structs)).alias("ch")
    ).select(id_col, "simhash", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    a = chunked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "c", "v"
    )
    b = chunked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "c", "v"
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["c", "v"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Character n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup within a blocking key.

    Blocking (same ``block_col``) bounds the pair space — the test-scale
    stand-in for LSH prefixes at 100 TB.  Output (id_a, id_b, jaccard).
    """
    # materialize the lowered text once; a lambda capturing lower(text)
    # would re-evaluate it per n-gram (see doc_shingles)
    grams_expr = (
        f"CASE WHEN length(lt) >= {n} THEN "
        f"transform(sequence(1, length(lt) - {n - 1}), i -> substring(lt, i, {n})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    grams = (
        df.select(
            F.col(id_col),
            F.col(block_col).alias("_blk"),
            F.lower(F.col(text_col)).alias("lt"),
        )
        .select(
            F.col(id_col),
            F.col("_blk"),
            F.explode(F.array_distinct(F.expr(grams_expr))).alias("gram"),
        )
    )
    counts = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_g"))
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("_blk"), "gram")
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("_blk"), "gram")
    inter = (
        ga.join(gb, ["_blk", "gram"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_g").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_g").alias("n_b"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


@dataclass
class CCResult:
    """Per-call result of :func:`connected_components_detailed`:
    the label DataFrame plus the loop diagnostics."""

    labels: DataFrame
    rounds: int
    converged: bool


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    max_iterations: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a pair
    graph.  Output (id_col, component) for EVERY vertex — singletons
    keep their own id; the component id is the minimum member id (a
    deterministic canonical representative).

    The algorithm is the large-star/small-star alternation (Kiveris et
    al., "Connected Components in MapReduce and Beyond"): each round
    contracts edges toward component minima from BOTH ends, converging
    in O(log n) rounds on any topology — the 100 TB choice, where a long
    duplicate chain (template spam) costs ~log2(chain) rounds instead
    of one round per hop (measured in docs/SCALE.md: 7 rounds against
    64 for min-label propagation on a 64-node chain).

    The rounds run driver-side through ``fanout.fixed_point``, each
    round's edge set pinned (the standard Spark shape for iterative
    graph algorithms — GraphFrames does the same).  If
    ``max_iterations`` is exhausted before convergence a
    ``RuntimeWarning`` fires (the labels may still be coarsening);
    :func:`connected_components_detailed` returns the converged flag +
    round count explicitly.
    """
    return connected_components_detailed(
        pairs, vertices, id_col, pair_cols, max_iterations
    ).labels


def connected_components_detailed(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    max_iterations: int = 25,
) -> CCResult:
    """:func:`connected_components` returning :class:`CCResult` — the
    label DataFrame plus per-call ``rounds``/``converged`` diagnostics."""
    edges, rounds, converged = fixed_point(
        pin(_directed_edges(pairs, *pair_cols)),
        _star_round,
        _edge_set_changed(),
        None,
        max_iterations,
        f"connected_components exhausted max_iterations={max_iterations} "
        "before the edge set stabilized — component labels may be "
        "under-merged; raise max_iterations",
    )
    labels = edges.groupBy("src").agg(F.min("dst").alias("component"))
    out = (
        vertices.select(F.col(id_col).alias("vid"))
        .join(labels, F.col("vid") == F.col("src"), "left")
        .select(
            F.col("vid").alias(id_col),
            F.coalesce("component", F.col("vid")).alias("component"),
        )
    )
    return CCResult(labels=out, rounds=rounds, converged=converged)


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star/small-star round over an ``(src, dst)`` edge set:

    * **large-star** — per node u over its full neighborhood Γ(u):
      m = min(Γ(u) ∪ {u}); rewire every LARGER neighbor v > u to m.
    * **small-star** — orient edges large→small; per node u over its
      smaller neighbors: m = min(Γ(u)); rewire them (and u) to m.

    The edge set monotonically contracts toward one star per component
    (center = component min).  Every step is an equi-join/aggregation
    on node ids — no driver-side graph state.
    """
    # large-star over the symmetrized neighborhood
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    ls = (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least(F.col("_mn"), F.col("src")).alias("dst"),
        )
        # no .distinct() here (r18): duplicates from mutual pairs in
        # sym are absorbed by the min-aggregations and the round's
        # final distinct, so the extra exchange bought nothing —
        # result-identical by construction (A/B: same labels, same
        # round count, one fewer shuffle stage per round).
    )
    # small-star over edges oriented large -> small
    directed = ls.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins2 = directed.groupBy("src").agg(F.min("dst").alias("_m"))
    return (
        directed.join(mins2, "src")
        .where(F.col("dst") != F.col("_m"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .union(mins2.select(F.col("src"), F.col("_m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _edge_set_changed() -> Callable[[DataFrame, DataFrame], bool]:
    """A fresh convergence test for one connected-components loop:
    whether a round changed the distinct ``(src, dst)`` edge set, by an
    order-insensitive set signature (count, bit_xor of xxhash64; bit_xor,
    not sum — edges are distinct, and xor can't hit ANSI long-overflow).

    It hashes only ``new`` and keeps the signature for the next round,
    whose ``old`` this round's ``new`` is, so a round's probe is one
    aggregation over the edge set it just built (re-hashing ``old`` in
    the same job measured about 50 ms more per round); the first round
    has no signature to match and never converges."""
    last = None

    def changed(old: DataFrame, new: DataFrame) -> bool:
        nonlocal last
        row = new.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        prev, last = last, (row["n"], row["h"])
        return last != prev

    return changed


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """End-to-end corpus dedup: cluster the near-dup pair graph into
    connected components and keep ONE survivor per cluster — the
    highest-``quality_col`` member, ties broken by lowest id (so the
    survivor is deterministic under any partitioning).

    This is the terminal step of the canonical training-data pipeline
    (pairs -> clusters -> survivor -> filtered corpus): the output is
    ``df`` restricted to survivors, plus the cluster id and size so
    downstream stages can weight or audit the collapse.  Cost on top of
    ``connected_components``: one join to attach labels and one
    window pass per cluster — both hash-partitioned on the component id.
    Singletons (docs with no near-dup edge) survive trivially.
    """
    comp = connected_components(pairs, df, id_col, pair_cols)
    labeled = df.join(comp, id_col)
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    wc = Window.partitionBy("component")
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def cluster_report(
    labels: DataFrame, id_col: str, component_col: str = "component"
) -> DataFrame:
    """Duplicate-cluster size distribution from
    :func:`connected_components` output: ``(cluster_size, n_clusters,
    n_docs)`` — the one-page answer to "how much of my corpus is
    duplicated, and is it many small families or one template bomb?"

    Singletons (size 1) are unduplicated docs; a heavy tail at large
    sizes is template spam and the reason the two-phase CC exists.
    Two small aggregations (component -> size, size -> counts); the
    report is bounded by the distinct-size count, never corpus-sized.
    """
    sizes = labels.groupBy(component_col).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: what fraction of a document's distinct
    word n-grams appear in NO other document — the memorization /
    duplication diagnostic (a near-zero score means the document is
    assembled from corpus-repeated content even if no single near-dup
    pair flags it; the doc-level complement of span-level dedup).

    Returns ``(id_col, n_grams, n_novel, novelty)`` with ``novelty =
    round(n_novel / n_grams, 6)`` (0-gram docs row with novelty NULL).

    Scale (100 TB): one shingle pass → distinct (doc, gram-digest)
    projection; gram document-frequency is a map-side-combinable agg
    over that relation (one row per distinct gram — Zipf-bounded); the
    df join-back is a hash equi-join on the 8-byte digest.  No pair
    space, no driver state.
    """
    grams = doc_shingles(df, id_col, text_col, n).select(
        F.col(id_col), _md5_long(F.col("shingle")).alias("g")
    ).distinct()
    gdf = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        grams.join(gdf, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    source_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Pairwise source×source shared-content matrix: for every ordered
    source pair (a < b), how many distinct n-gram fingerprints appear in
    BOTH — the cross-corpus contamination dashboard (which crawls/dumps
    duplicate each other, and how badly) that decides dedup ordering and
    mixture weights before any per-document pass runs.

    Returns ``(source_a, source_b, n_shared, n_a, n_b, overlap_a,
    overlap_b)`` where ``overlap_x = round(n_shared / n_x, 6)`` is the
    containment of x's gram set in the intersection.

    Scale (100 TB): the corpus reduces to the distinct (source, digest)
    relation ONCE; the pair join is digest-keyed between source-tagged
    gram sets — its size is bounded by cross-source duplicate mass
    (grams in ≥2 sources), not the corpus, and the result is
    |sources|² rows.  No document pair space ever exists.
    """
    grams = doc_shingles(df, source_col, text_col, n).select(
        F.col(source_col).alias("_src"), _md5_long(F.col("shingle")).alias("g")
    ).distinct()
    sizes = grams.groupBy("_src").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col("_src").alias("source_a"), "g")
    b = grams.select(F.col("_src").alias("source_b"), "g")
    shared = (
        a.join(b, "g")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("_src").alias("source_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("_src").alias("source_b"), F.col("n_grams").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(F.col("n_shared") / F.col("n_a"), 6).alias("overlap_a"),
            F.round(F.col("n_shared") / F.col("n_b"), 6).alias("overlap_b"),
        )
    )
