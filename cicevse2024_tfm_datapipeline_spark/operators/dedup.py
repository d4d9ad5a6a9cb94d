"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB):
- Exact dedup = hash-groupBy on a content digest — one shuffle on the
  digest, perfectly parallel, no skew (md5 is uniform).
- MinHash signatures are computed per-row with array expressions (no
  shuffle, no UDF); LSH banding turns near-dup detection into an
  equi-join on (band_idx, band_key) — the only shuffle, with uniformly
  distributed keys. Candidate pairs ≪ n², never materialize the n² grid.
- SimHash = one explode + one groupBy(doc) re-aggregation; bucketing by
  hash prefix gives an equi-joinable key like LSH.
- Pairwise n-gram Jaccard is the verification step applied ONLY to LSH
  candidates (or explicitly bounded id ranges in tests).

All hashes are md5-hex (portable: identical in any engine), and MinHash
uses the lexicographic minimum of seeded md5 hex strings — uniform and
totally ordered, so min-hash semantics hold without int conversion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators.skew import ensure_min_parallelism
from cicevse2024_tfm_datapipeline_spark.operators.text import tokens_expr, word_shingles_expr


def content_digest_expr(text: Column | str) -> Column:
    """Exact-dup key: md5 of the raw content."""
    return F.md5(F.col(text) if isinstance(text, str) else text)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the smallest id per content digest (deterministic survivor)."""
    key = content_digest_expr(text_col).alias("__digest")
    ranked = df.select("*", key)
    keep = ranked.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


def _slice_taker(start: int, length: int):
    # MUST be a one-arg lambda: pyspark maps lambda ARITY to transform's
    # (element[, index]) signature, so extra default args would bind the
    # array index — keep parameters in a closure.
    return lambda h: F.substring(h, start, length)


def minhash_signature_exprs(hashed: Column, num_hashes: int) -> list[Column]:
    """MinHash signatures from a pre-hashed shingle array: signature i is
    the min over shingles of the i-th 8-hex-char slice of the
    per-shingle digest. Distinct bit-ranges of a strong hash act as
    independent hash functions — ONE digest evaluation feeds all seeds
    (8× fewer md5 calls than seeded re-hashing). Empty set → null."""
    sigs = []
    for i in range(num_hashes):
        sliced = F.transform(hashed, _slice_taker(i * 8 + 1, 8))
        sigs.append(F.array_min(sliced).alias(f"mh_{i}"))
    return sigs


def shingle_digest_expr(shingles: Column) -> Column:
    """64 hex chars per shingle from ONE sha-256 call — enough for 8
    independent 32-bit slices (distinct bit-ranges of a strong hash)."""
    return F.transform(shingles, lambda s: F.sha2(s, 256))


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, shingle_k: int = 3
) -> DataFrame:
    if num_hashes * 8 > 64:
        raise ValueError("num_hashes > 8 needs more digest material")
    df = ensure_min_parallelism(df)
    # Shingles are materialized in their own projection BEFORE the hashing
    # transforms: composing transform(transform(...)) lambdas in one
    # expression tree hits lambda-variable capture collisions (the inner
    # `x` shadows the outer). Chained selects, still one codegen stage.
    toks = tokens_expr(text_col)
    base = df.select(F.col(id_col), word_shingles_expr(toks, shingle_k).alias("__shingles"))
    hashed = base.select(F.col(id_col), shingle_digest_expr(F.col("__shingles")).alias("__hashed"))
    return hashed.select(
        F.col(id_col), *minhash_signature_exprs(F.col("__hashed"), num_hashes)
    )


def lsh_band_keys(sig_df: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band_idx, band_key) — band_key = md5 of the band's signature
    slice. Docs sharing any (band_idx, band_key) are candidate near-dups."""
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *parts)).alias("band_key"))
        )
    exploded = sig_df.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("b"))
    return exploded.select(id_col, F.col("b.band_idx"), F.col("b.band_key"))


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from MinHash-LSH banding — the
    scale path: one signature pass + one self-equi-join on band keys.

    ``sig_df``: a caller-precomputed signature frame (id + mh_0..mh_k-1,
    e.g. a projection of a shared pinned frame that also carries the
    caller's verify payload — dedup_containment_pairs shares ONE
    tokenize pass this way, r12). The caller owns its pin; the default
    path pins its own signatures as below."""
    assert num_hashes % bands == 0
    if sig_df is not None:
        keys = lsh_band_keys(sig_df, id_col, bands, num_hashes // bands)
        a = keys.select(F.col(id_col).alias("doc_a"), "band_idx", "band_key")
        b = keys.select(F.col(id_col).alias("doc_b"), "band_idx", "band_key")
        return (
            a.join(b, ["band_idx", "band_key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    # r11: exchange reuse between the two self-join branches is NOT
    # guaranteed — when AQE broadcast-converts one side, that branch
    # becomes a BroadcastExchange that cannot reuse the shuffle, and the
    # full tokenize→shingle→sha2→min-fold chain executed TWICE (plan
    # showed two parquet scans of documents). The lazy checkpoint pins
    # the NARROW signature frame (id + num_hashes 8-char slices — never
    # the corpus text) so the CPU-dense chain runs exactly once under
    # any join strategy at any scale. It is also a hard barrier against
    # Catalyst's projection collapse inlining the chain into every
    # band-key expression, which is all the pre-r11 repartition here was
    # for — so the id repartition is gone (r12): it shuffled the
    # signature frame for nothing (the band join re-shuffles by
    # (band_idx, band_key) anyway, and minhash_signatures' ensure_min_
    # parallelism already fans a starved scan out). Paired A/B/C at
    # sf0.1 and 10x (.scratch/sf1): bench cost equal, one Exchange
    # fewer, single-execution second_s preserved (0.34 vs 0.78 unpinned).
    sigs = sigs.localCheckpoint(eager=False)
    keys = lsh_band_keys(sigs, id_col, bands, num_hashes // bands)
    a = keys.select(F.col(id_col).alias("doc_a"), "band_idx", "band_key")
    b = keys.select(F.col(id_col).alias("doc_b"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """Per-doc SimHash: per-bit weighted majority over token md5 hashes.

    Explode tokens once; extract each hex nibble of the token hash as an
    int; aggregate per-bit ±1 sums; bit = 1 iff sum ≥ 0. Duplicate tokens
    weight the majority (standard SimHash with term frequency)."""
    assert bits % 4 == 0
    n_nibbles = bits // 4
    df = ensure_min_parallelism(df)
    tok = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("__tok"))
    h = F.md5(F.col("__tok"))
    nib_cols = [
        F.conv(F.substring(h, j + 1, 1), 16, 10).cast("int").alias(f"__nib_{j}")
        for j in range(n_nibbles)
    ]
    nibs = tok.select(F.col(id_col), *nib_cols)
    aggs = []
    for j in range(n_nibbles):
        for bit in range(4):
            signed = (
                F.shiftright(F.col(f"__nib_{j}"), bit).bitwiseAND(F.lit(1)) * F.lit(2) - F.lit(1)
            )
            aggs.append(F.sum(signed).alias(f"__s_{j}_{bit}"))
    sums = nibs.groupBy(id_col).agg(*aggs)
    value = F.lit(0).cast("long")
    for j in range(n_nibbles):
        for bit in range(4):
            weight = 1 << (j * 4 + bit)
            value = value + F.when(F.col(f"__s_{j}_{bit}") >= 0, F.lit(weight)).otherwise(
                F.lit(0)
            ).cast("long")
    return sums.select(F.col(id_col), value.alias("simhash"))


def ngram_jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Pairwise word-k-gram Jaccard between two (small / pre-filtered)
    document sets. Integer set algebra → the division is exact IEEE and
    engine-portable. Intended for LSH candidates, not the full n² grid."""
    def with_set(df: DataFrame, suffix: str) -> DataFrame:
        toks = tokens_expr(text_col)
        return df.select(
            F.col(id_col).alias(f"doc_{suffix}"),
            F.array_distinct(word_shingles_expr(toks, k)).alias(f"grams_{suffix}"),
        )

    a = with_set(left, "a")
    b = with_set(right, "b")
    pairs = a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    return pairs.select(
        "doc_a",
        "doc_b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Connected components over an undirected candidate-pair edge set by
    Pregel-style min-label propagation: each round every vertex takes the
    minimum label among itself and its neighbors; fixpoint = component
    labels (label = smallest vertex id in the component).

    This is the missing last step of fuzzy dedup at corpus scale: LSH
    emits candidate PAIRS, but survivor selection needs PER-CLUSTER
    groups — duplicates form chains (A~B, B~C with A!~C), so the
    transitive closure is required, not the pair list.
    Chained near-dup grouping has no reference twin — scale extension.

    Scale shape: each round is ONE shuffle join of the edge frame with
    the |V|-sized label frame on vertex id (uniform keys) plus a
    min-groupBy — no driver-side graph, no n² anything. Rounds needed =
    graph diameter (capped at 50); near-dup graphs are bundles of tight
    quasi-cliques (diameter 2-4 in practice). ``localCheckpoint``
    truncates the per-round lineage so plan depth stays O(1) instead of
    O(rounds);
    the fixpoint test is a LIMIT-1 count on the changed-label frame,
    not a full materialization.

    Vertices with no edge are their own singleton component and are NOT
    emitted (callers union them back if needed) — keeps the frame
    edge-bounded, which at 100 TB is millions of rows, not billions.
    """

    def _label_sum(frame: DataFrame):
        # decimal(38) keeps the probe overflow-safe with billions of
        # 64-bit ids; a 1-row aggregate over a checkpointed frame
        return frame.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]

    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    sym = sym.localCheckpoint(eager=False)
    # init folds the first propagation round into label creation:
    # lbl₀ = min(node, min neighbor) — same shuffle the bare distinct()
    # init paid, one fewer loop iteration
    # LAZY checkpoints (r11 optimization): the fixpoint probe right below
    # each checkpoint is the frame's first action, so it materializes the
    # checkpoint AND reads the 1-row sum in ONE job — eager=True ran a
    # separate materialization job first, doubling the per-round job
    # count (measured inside pipeline_fuzzy_corpus's build). Lineage
    # truncation and the frozen per-round frame are identical either way.
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("__mn"))
        .select("node", F.least(F.col("node"), F.col("__mn")).alias("lbl"))
        .localCheckpoint(eager=False)
    )
    prev_sum = _label_sum(labels)
    for _ in range(50):
        nbr = sym.join(labels, sym["dst"] == labels["node"]).select(
            F.col("src").alias("node"), F.col("lbl")
        )
        new_labels = (
            labels.union(nbr).groupBy("node").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint(eager=False)
        labels = new_labels
        # labels only ever decrease, so fixpoint ⟺ the label sum is
        # unchanged: a joinless 1-row probe instead of a self-join scan
        # (this collect materializes the round's checkpoint as a side
        # effect — the frame every later consumer reads)
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("node"), F.col("lbl").alias("component"))


def fuzzy_dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end fuzzy dedup: LSH candidate pairs (``doc_a``,
    ``doc_b``) → connected components → keep one survivor per cluster
    (the min-id member, i.e. the row whose component label equals its own
    id) plus every untouched singleton.

    The removed set is ``components where node != label`` — bounded by
    the number of duplicate members (millions at 100 TB, not billions),
    so the final step is an anti-join of the corpus against a small
    frame; AQE turns it into a broadcast anti-join when it fits.
    Transitive near-dup survivor selection has no reference twin —
    scale extension.
    """
    comp = connected_components(pairs)
    removed = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(removed, id_col, "left_anti")


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN detection (substring dedup): find maximal
    token ranges that occur at least ``min_occurrences`` times anywhere
    in the corpus (the Lee et al. 2021 "Deduplicating Training Data"
    semantics, at k-token granularity instead of suffix arrays).

    Plan: posexplode k-token shingles → ONE shuffle on the raw shingle
    (explicit repartition barrier: the occurrence-count groupBy and the
    join-back both reuse that exchange, and the tokenize→shingle chain
    is never inlined twice) → per-document gaps-and-islands merge of
    overlapping/adjacent hits (window partitioned BY DOCUMENT —
    partition size is bounded by document length, never by corpus
    size). All JVM Column expressions. A pathologically common k-gram
    makes the join-back key hot; the count side is map-combined either
    way and AQE's skew-join split covers the probe side.

    Returns one row per merged span: (doc_id, span_start, span_end,
    span_tokens), positions 1-based inclusive over the whitespace-token
    sequence. Scale extension — no reference twin.
    """
    from pyspark.sql import Window

    toks = tokens_expr(F.col(text_col))
    sh = word_shingles_expr(toks, k)
    pos = ensure_min_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), F.posexplode(sh).alias("pos0", "shingle")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "shingle",
    )
    # r11 restructure (guide §2.4): the occurrence threshold is a
    # per-shingle COUNT, so one unbounded-frame window count over the
    # shingle partitioning replaces the former two-consumer shape
    # (repartition + localCheckpoint + count groupBy + join-back probe).
    # "shingle in dup set" ⟺ "count over this shingle's partition >=
    # min_occurrences" — identical hit set, but ONE shuffle of the
    # exploded frame, no pinned corpus-sized checkpoint, no join. A
    # pathologically common k-gram is the same hot key either path (it
    # was the join-back probe's skew before); partition size stays
    # bounded by that shingle's corpus occurrence count.
    wsh = Window.partitionBy("shingle")
    hits = (
        pos.withColumn("cnt", F.count(F.lit(1)).over(wsh))
        .filter(F.col("cnt") >= min_occurrences)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lagged = F.lag("pos", 1).over(w)
    # spans all have length k and start positions are sorted, so ends are
    # monotonic: a lag test is an exact overlap/adjacency merge rule
    new_island = (lagged.isNull() | (F.col("pos") - lagged > k)).cast("long")
    islands = hits.withColumn("island", F.sum(new_island).over(w))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Train/eval DECONTAMINATION: ids of training documents sharing at
    least one k-word shingle with any evaluation document (the benchmark-
    leakage filter every LLM training pipeline runs before training).

    Scale shape: eval shingles are DISTINCT'd and broadcast (eval suites
    are tiny next to a training corpus — benchmarks are MBs, corpora are
    TBs); the training side streams through explode → broadcast-hash
    semi-join with no shuffle of the corpus, then a distinct on the
    surviving ids. If the eval side ever outgrows broadcast, the same
    plan degrades gracefully to a shuffle semi-join on the shingle key.
    """
    from cicevse2024_tfm_datapipeline_spark.operators.text import (
        tokens_expr,
        word_shingles_expr,
    )

    eval_sh = (
        eval_df.select(
            F.explode(word_shingles_expr(tokens_expr(text_col), k)).alias("__sh")
        )
        .distinct()
    )
    train_sh = train.select(
        F.col(id_col), F.explode(word_shingles_expr(tokens_expr(text_col), k)).alias("__sh")
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "__sh", "left_semi")
        .select(id_col)
        .distinct()
    )


def _bloom_position_exprs(key: Column, k: int, m_bits: int, tag: str) -> list[Column]:
    """k independent bit positions for ``key``: first 32 bits of
    md5(tag|i|key) mod m — engine-portable (md5 + integer arithmetic
    only), so an external engine reproduces the exact same bloom."""
    return [
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(tag), F.lit(str(i)), key)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % m_bits
        for i in range(k)
    ]


def bloom_bitmap(
    df: DataFrame, key: Column, m_bits: int = 1 << 16, k: int = 4, tag: str = "bloom"
) -> DataFrame:
    """Build a bloom bitmap over ``key``: 32-bit words keyed by bucket
    (``(word_idx int, word long)``, ≤ m/32 rows). One aggregation collapses
    any corpus size to a broadcastable bitmap — the 100 TB membership
    pattern: the corpus is scanned once, and every later novelty check is
    a broadcast join against the bitmap instead of a corpus-sized shuffle.
    32-bit words in longs keep every shift value positive in any engine."""
    pos = F.explode(F.array(*_bloom_position_exprs(key, k, m_bits, tag))).alias(
        "__pos"
    )
    return (
        df.select(pos)
        .select(
            F.shiftright("__pos", 5).cast("int").alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(__pos % 32 as int))"
            ).alias("__bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("word"))
    )


def bloom_might_contain(
    probe: DataFrame,
    bitmap: DataFrame,
    id_col: str,
    key: Column,
    m_bits: int = 1 << 16,
    k: int = 4,
    tag: str = "bloom",
) -> DataFrame:
    """Per probe row: ``__might_contain`` = all k bloom bits set. No
    false negatives ever; false-positive rate set by m/n and k. Explode
    to k probes, broadcast-join the bitmap, and conjoin — the probe side
    is never shuffled by more than its own k-fanout aggregation."""
    pos = F.explode(F.array(*_bloom_position_exprs(key, k, m_bits, tag))).alias(
        "__pos"
    )
    probes = probe.select(F.col(id_col), pos).select(
        id_col,
        F.shiftright("__pos", 5).cast("int").alias("word_idx"),
        F.expr(
            "shiftleft(cast(1 as bigint), cast(__pos % 32 as int))"
        ).alias("__bit"),
    )
    hit = (
        probes.join(F.broadcast(bitmap), "word_idx", "left")
        .withColumn(
            "__hit",
            (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("__bit")) != 0).cast(
                "int"
            ),
        )
        .groupBy(id_col)
        .agg((F.min("__hit") == 1).alias("__might_contain"))
    )
    return probe.join(hit, id_col)
