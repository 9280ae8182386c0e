"""Training-data curation operators beyond dedup: deterministic sampling,
sequence packing, near-dup cluster resolution, PII scrubbing.

All four follow the engine's oracle discipline — every randomness source is
an md5 hash of row keys (reproducible in ANSI SQL), every iteration count is
fixed (both engines run the identical dataflow), so the DuckDB twin proves
the distributed implementation bit-exact.

Scale notes (100 TB corpus):
- sampling is a pure map filter (no shuffle, no RNG state, idempotent under
  retry — the property per-task `rand()` does NOT have);
- packing is one window per stratum (sort within partition; Spark plans a
  single shuffle on the stratum key);
- cluster resolution moves only the (tiny) near-dup edge set through K
  small self-joins, never the corpus;
- scrubbing is JVM regexp_replace — whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window, functions as F


def sample_hash_col(key, salt: str = "s1"):
    """Deterministic 0-99 sampling hash: int of the first 4 md5 hex chars of
    salt||key, mod 100. Identical in SQL: ('0x'||substr(md5(...),1,4))::INT
    % 100. A row's fate depends only on (salt, key): stable across retries,
    executors, and engines — the curation-grade replacement for rand()."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 4), 16, 10)
        .cast("int")
        % 100
    )


def stratified_sample(
    df: DataFrame, rates: DataFrame, stratum_col: str = "source",
    key_col: str = "doc_id", salt: str = "s1",
) -> DataFrame:
    """Keep rows where sample_hash < the stratum's rate_pct (0-100).

    ``rates``: (stratum, rate_pct) — tiny, broadcast; the filter itself is
    map-side. The standard fix for Zipf-hot sources in training mixes:
    downsample the head stratum, keep the tail."""
    r = rates.withColumnRenamed(rates.columns[0], stratum_col)
    out = df.join(F.broadcast(r), stratum_col, "left").na.fill({"rate_pct": 100})
    return out.where(sample_hash_col(F.col(key_col), salt) < F.col("rate_pct"))


def pack_greedy_bins(
    df: DataFrame,
    budget: int,
    size_col: str = "n_tok",
    part_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Sequence-packing plan: within each stratum, walk docs in ``order_col``
    order and assign bin = floor(tokens_before_this_doc / budget) — the
    deterministic streaming-cumsum packing used to fill training context
    windows. Adds ``pack_bin``. One window (= one shuffle on the stratum
    key); docs may straddle bin boundaries, which the training loader
    handles by splitting (the PLAN is the distributed part)."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(size_col).over(w)
    return df.withColumn(
        "pack_bin", F.floor((cum - F.col(size_col)) / F.lit(budget)).cast("int")
    )


def near_dup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", iters: int = 2,
    mode: str = "propagate",
) -> DataFrame:
    """Resolve near-dup pairs into clusters by ``iters`` rounds of min-label
    propagation; survivor = min doc id per cluster. Returns
    (doc_id, cluster_id).

    Fixed iteration count on BOTH engines (the oracle runs the identical
    rounds), so parity holds even mid-convergence; star-shaped dup clusters
    (the overwhelmingly common case after exact dedup) converge in one
    round. Two modes:

    - ``propagate`` (default): synchronous min-label propagation — a label
      moves ONE hop per round, so chains of <= ``iters`` hops converge.
      One edge join + one aggregate per round; right for post-exact-dedup
      cluster shapes, where diameters are tiny.
    - ``pointer_jump``: each round follows the gather with a label-shortcut
      step (cluster_id := label of my label — the classic pointer-jumping /
      path-doubling halving). Reach grows like 2^iters (exactly: d_r =
      2*(d_{r-1}+1), so iters=2 covers 6-hop chains, iters=3 covers 14) at
      the cost of one extra label-table self-join per round. The scale
      answer when boilerplate-mutation CHAINS (A~B~C~D...) survive into the
      pair set.

    Every round joins the label table against the EDGE set (and, for
    pointer_jump, against itself) — the corpus never re-shuffles; the label
    relation is 2 columns and the edge relation candidate-pair sized, not
    corpus sized."""
    if mode not in ("propagate", "pointer_jump"):
        raise ValueError(f"unknown mode {mode!r}")
    from abs_log_spark import cache

    # The pair set is referenced TWICE by the edge union, and each round
    # references the label relation twice (gather + left join; three times
    # for pointer_jump) — without persistence the whole upstream pair
    # detection (LSH candidate + verify joins when the caller feeds us
    # minhash_lsh_pairs output) re-executes once per reference, compounding
    # per round. Both relations are tiny (edge-set and 2-column labels), so
    # persist them: the expensive detection runs exactly once, every round
    # reads cached rows. Lifecycle via the session cache registry, same
    # contract as the dedup operators (bench/jobs call release_all()). A
    # pair set the caller already cached is the caller's to release:
    # tracking it would let release_all() drop the caller's own cache.
    if pairs.storageLevel == StorageLevel.NONE:
        pairs = cache.track(pairs.persist())
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    lab = docs.select(F.col(id_col).alias("id"), F.col(id_col).alias("cluster_id"))
    for _ in range(iters):
        nb_min = (
            edges.join(lab.withColumnRenamed("id", "dst_id"),
                       F.col("dst") == F.col("dst_id"))
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nb_label"))
        )
        lab = (
            lab.join(nb_min, lab.id == nb_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nb_label"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        if mode == "pointer_jump":
            # shortcut: cluster_id := cluster_id(cluster_id). Labels are
            # always existing doc ids (min over ids), so the self-join is
            # total — every row survives with a (possibly shorter) label.
            hop = lab.select(
                F.col("id").alias("p_id"), F.col("cluster_id").alias("p_label")
            )
            lab = lab.join(hop, lab.cluster_id == hop.p_id).select(
                "id", F.col("p_label").alias("cluster_id")
            )
        # each round's label relation feeds the next round's gather AND its
        # left join (AND the shortcut self-join for pointer_jump): persist
        # it so a round's work is computed once, not 2^rounds times
        lab = cache.track(lab.persist())
    return lab.select(F.col("id").alias(id_col), "cluster_id")


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Train/eval overlap detection — the decontamination step every LLM
    training pipeline needs: flag corpus docs sharing any word ``k``-gram
    with a benchmark/eval document. Returns (doc_id, n_hits) with n_hits =
    number of distinct benchmark shingles the doc contains.

    Scale shape (100 TB corpus, benchmark suites are KB-MB): the benchmark
    shingle set is tiny — it BROADCASTS; the corpus side explodes its
    distinct shingles once and semi-joins map-side, so the only shuffle is
    the per-doc hit count (map-side combined). Never joins corpus-to-corpus.

    Shingles travel as 60-bit hashed ids (``hashed_shingle_ids``), not
    strings: the broadcast table and the exploded corpus relation carry
    8 B/shingle instead of ~30-60 B 5-gram strings (~5x smaller broadcast
    to every executor), and the oracle computes the identical md5 slice so
    a collision would be shared, never a parity divergence.
    """
    from abs_log_spark.functions.similarity import hashed_shingle_ids

    bench_sh = (
        benchmark.select(
            F.explode(
                F.array_distinct(hashed_shingle_ids(F.col(text_col), k))
            ).alias("s")
        )
        .distinct()
    )
    corp_sh = corpus.select(
        "doc_id",
        F.explode(F.array_distinct(hashed_shingle_ids(F.col(text_col), k))).alias("s"),
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


#: PII patterns — intentionally simple so the Java (Spark) and RE2 (DuckDB)
#: dialects agree character-for-character.
EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
PHONE_RE = "555-[0-9]{4}"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace email/phone occurrences with typed placeholders and count
    what was scrubbed (no silent rewriting). Pure JVM regexp — codegen'd,
    no Python in the path."""
    t = F.col(text_col)
    emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    clean = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
    return df.withColumn("n_emails", emails).withColumn(
        "n_phones", phones
    ).withColumn("clean_text", clean)
