"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (engine extension, SURVEY §7 step 9):
- exact dedup: hash-groupBy on content (or md5 fingerprint at 100 TB so
  the shuffle key is 16 bytes, not the document)
- n-gram Jaccard near-dup: shingle -> sorted posting list per
  shingle -> C(k,2) pair expansion -> Jaccard from intersection
  counts. Candidate pairs are generated only for documents sharing
  >=1 shingle (never a cross join); at 100 TB add a shingle-frequency
  cap to drop stop-shingles (documented inline).
- every set-similarity join (Jaccard, PPJoin prefix filter,
  containment, winnowing, and ``queries/llm_ops.tfidf_cosine_pairs``)
  expands its posting arrays through the one kernel
  :func:`upper_pairs`; the callers differ only in the pair struct they
  build and what they aggregate.
- MinHash/SimHash variants live here too; MinHash uses exact permutation
  hashing expressed with built-in hash + transform (no UDF).

All shuffles are on bounded keys (fingerprints, shingles); nothing
collects to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.operators.text import TOKEN_SEP
from dissertation_iceberg_spark.session import pin
from dissertation_iceberg_spark.functions.exact import r6


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts: canonical (min) id + duplicate count.

    At scale, group by md5(text) instead of text to keep shuffle rows
    small; both engines produce identical hex digests.
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("fingerprint")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def word_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, with_size: bool = False
) -> DataFrame:
    """(id, shingle) pairs of word n-grams, distinct per document.

    Tokenization: whitespace split, empties dropped — SQL-reproducible.
    Per-document dedup runs MAP-SIDE via ``array_distinct`` BEFORE the
    explode — a round-2 ``.distinct()`` here was a full
    O(docs × shingles) shuffle doing the same work (per-doc uniqueness;
    the key includes doc_id, so no cross-doc dedup was happening
    anyway). ``with_size`` also emits the exact set size per row for
    free (array length), which the Jaccard join needs — previously a
    separate aggregation plus an O(docs) equi-join.
    """
    toks = F.filter(F.split(F.col(text_col), TOKEN_SEP), lambda x: x != "")
    k = F.size(toks) - (n - 1)
    # guard k <= 0 (docs with fewer than n tokens): F.sequence(0, k-1)
    # would produce a DESCENDING sequence ([0, -1, ...]) whose slice()
    # call Spark rejects at runtime — emit an empty shingle array, so
    # short docs flow through as the null row explode_outer drops
    idx = F.when(k >= 1, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    shingles = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    # explode_outer + post-filter, NOT plain explode: the inner-explode
    # optimizer rule infers a `size(arr) > 0` scan filter that inlines
    # and re-evaluates the whole shingle-array expression below the
    # repartition — i.e. serially, once per doc, before the parallel
    # stage even starts. The outer form generates nothing to infer; the
    # null-shingle rows (empty docs) are dropped by a cheap filter on
    # the generated column, which cannot be pushed below the Generate.
    base = df.select(F.col(id_col).alias("doc_id"), shingles.alias("__arr"))
    if with_size:
        out = base.select(
            "doc_id",
            F.size("__arr").alias("set_size"),
            F.explode_outer("__arr").alias("shingle"),
        )
    else:
        out = base.select("doc_id", F.explode_outer("__arr").alias("shingle"))
    return out.filter(F.col("shingle").isNotNull())


def upper_pairs(arr: str, pair: Callable[[Column, Column], Column]) -> Column:
    """Every unordered pair of a posting array, map-side: for the
    elements ``arr[i], arr[j]`` with ``i < j``, in (i, j) order,
    ``pair(arr[i], arr[j])``. Over a sorted posting list (doc ids, or
    structs led by the doc id) the lower id comes first. The C(k,2)
    expansion behind every set-similarity join here: O(k²) per
    posting list, which is what the callers' frequency caps bound.

    Precondition: ``size(arr) >= 2``. Every caller filters its postings
    to that first; a shorter array makes ``sequence(0, k-2)``
    descending and yields bogus pairs.
    """
    k = F.size(arr)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), k - 2),
            lambda i: F.transform(
                F.sequence(i + 1, k - 1),
                lambda j: pair(F.col(arr)[i], F.col(arr)[j]),
            ),
        )
    )


def _sized_pair(a: Column, b: Column, *extra: Column) -> Column:
    """Pair struct of two (doc_id, set_size, ...) posting entries."""
    return F.struct(
        a["doc_id"].alias("id_a"),
        b["doc_id"].alias("id_b"),
        a["set_size"].alias("size_a"),
        b["set_size"].alias("size_b"),
        *extra,
    )


def _ratio_ok(a: Column, b: Column, t: float) -> Column:
    """Length-ratio prune: J(A, B) >= t implies t·|B| <= |A| <= |B|/t."""
    return (a >= t * b) & (b >= t * a)


def _jaccard() -> Column:
    """|A∩B| / |A∪B| over a pair's n_inter / size_a / size_b, 6 dp."""
    return F.round(
        F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        6,
    )


def _counted_id_pairs(
    posts: DataFrame,
    n_parts: int,
    count: Column,
    sizes: DataFrame,
    size_a: str,
    size_b: str,
) -> DataFrame:
    """The ids-only pair tail: expand the ``ids`` posting arrays
    (each of size >= 2), hash-repartition the pairs to ``n_parts``
    when nonzero, count each pair with the aliased ``count``
    aggregate, then join the (doc_id, size) frame ``sizes`` onto both
    ends as ``size_a`` / ``size_b``."""
    expanded = posts.select(
        F.explode(
            upper_pairs(
                "ids", lambda a, b: F.struct(a.alias("id_a"), b.alias("id_b"))
            )
        ).alias("pr")
    ).select("pr.id_a", "pr.id_b")
    if n_parts:
        expanded = expanded.repartition(n_parts, "id_a", "id_b")
    doc, size = sizes.columns
    sa = sizes.select(F.col(doc).alias("id_a"), F.col(size).alias(size_a))
    sb = sizes.select(F.col(doc).alias("id_b"), F.col(size).alias(size_b))
    return (
        expanded.groupBy("id_a", "id_b").agg(count)
        .join(sa, "id_a")
        .join(sb, "id_b")
    )


def _posting_shuffle_partitions(
    postings_src: DataFrame,
    key: str,
    rows_per_partition: int = 500_000,
) -> int:
    """Derived shuffle width for a posting-list pair expansion, or 0
    when the session default suffices (so fixture-scale plans stay
    byte-identical — no repartition node appears). Candidate volume =
    sum of squared per-key group sizes, measured EXACTLY by one cheap
    count pre-agg (``functions/partitioning.pair_expansion_partitions``,
    the item_cf recipe). ``rows_per_partition`` is the per-reducer
    quota the exact volume is divided by — 500k (the item_cf SMJ
    sweet spot) unless the caller's expansion rows are narrower."""
    from dissertation_iceberg_spark.functions.partitioning import (
        pair_expansion_partitions,
    )

    n = pair_expansion_partitions(
        postings_src, key, rows_per_partition=rows_per_partition
    )
    default = int(
        postings_src.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"
        )
    )
    return n if n > default else 0


# Per-reducer quota for the CAPPED jaccard pair expansion (round 6).
# The item_cf 500k quota was measured on a sort-merge-join expansion
# carrying wide rows; the capped jaccard pair shuffle carries 16-byte
# (id_a, id_b) rows into a map-side-combined hash aggregate (partial
# counts shrink the stream BEFORE the exchange), so one reducer
# comfortably digests ~4M pre-combine pair rows (~64 MB raw). The
# 100x crossover measurement lives in SCALE.md (round 6).
_JACCARD_PAIRS_PER_PARTITION = 4_000_000


def _capped_pair_volume_bound(
    df: DataFrame, text_col: str, cap: int
) -> int:
    """O(1)-width worst-case bound on the capped pair-expansion volume
    sum(df^2), WITHOUT generating a single shingle: every shingle
    instance contributes at most ``cap`` to its shingle's df, and the
    instance count per doc is bounded by the token count, itself
    bounded by whitespace count + 1 — pure length arithmetic, one
    narrow scan, no shuffle, no token-array allocation. When even this
    worst case fits the session default's quota, the exact sum(df^2)
    pre-agg (a full tokenize+shingle scan plus a shingle-keyed
    shuffle) is provably unnecessary and is skipped — that keeps the
    registered capped plan's build cost at fixture scale within noise
    of the uncapped plan, while 100 TB inputs (where the bound
    explodes) still pay the exact measurement before committing to a
    shuffle width."""
    # token count bounded by separator count + 1 — valid ONLY because
    # tokens()/word_shingles split on the single TOKEN_SEP character
    # (imported, not re-hard-coded, so the coupling survives edits; a
    # regex-whitespace tokenizer would need a different bound here)
    assert len(TOKEN_SEP) == 1, "length bound assumes a 1-char separator"
    row = (
        df.select(
            F.sum(
                F.length(F.col(text_col))
                - F.length(
                    F.replace(F.col(text_col), F.lit(TOKEN_SEP), F.lit(""))
                )
                + F.lit(1)
            ).alias("s")
        ).first()
    )
    return cap * int(row["s"] or 0)


def jaccard_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
    bound_src: DataFrame | None = None,
) -> DataFrame:
    """Candidate-pair n-gram Jaccard similarity >= threshold.

    inverted-index join: |A∩B| from shingle co-occurrence counts,
    |A∪B| = |A|+|B|−|A∩B|. ``max_shingle_freq`` drops shingles shared
    by too many docs (stop-shingles) — the knob that keeps candidate
    generation near-linear at 100 TB.

    Round-3 shape (the round-2 bench regression fix): a POSTING-LIST
    expansion, not a self-join. Round 2 scanned/computed the shingle
    table twice (both join sides; lambda-bearing subtrees defeat
    Spark's exchange reuse, which the old persist papered over) plus a
    distinct shuffle, a sizes aggregate, and two O(pairs) size joins.
    Now: ONE pass builds (shingle → sorted posting list of
    (doc_id, set_size)) — set sizes computed map-side in
    :func:`word_shingles` — then C(k,2) pairs per shingle expand
    map-side from the array, then one pair-keyed count. Two shuffles
    total (postings O(shingles), pairs O(candidates)); no join
    operator at all, so nothing for the planner to broadcast (the old
    plan broadcast the exploded table — an OOM at 100 TB).

    Per-shingle expansion is O(df²); ``max_shingle_freq`` caps df (the
    documented stop-shingle knob), which simultaneously bounds the
    posting array, the pair fan-out, and reducer memory — at 100 TB
    run with a cap (e.g. 256); uncapped df is measured ≤25 on the
    driver fixtures. Length-ratio pruning (J ≥ t ⇒ t·|B| ≤ |A| ≤
    |B|/t) drops hopeless pairs inside the array expansion, before
    they ever hit the pair shuffle.

    Capped semantics: the Jaccard is computed ENTIRELY in the filtered
    universe — when the cap drops a stop-shingle, it leaves both the
    intersection counts and the per-doc set sizes (round-2 semantics;
    mixing capped intersections with uncapped sizes would silently
    deflate every score whose docs share stop-shingles). That requires
    post-cap sizes, which only the capped path pays for: it rebuilds
    sizes from the surviving postings and joins them onto the pair
    aggregate (two O(pairs) equi-joins). The uncapped path keeps the
    joinless one-pass shape with sizes riding the posting arrays.

    Self-sizing (capped path only — the declared 100 TB deployment
    shape): the posting-list and pair-count shuffles are pre-sized
    from the EXACT pre-cap candidate volume sum(df^2) via one cheap
    count pre-agg (``functions/partitioning.pair_expansion_partitions``
    — the item_cf recipe), because AQE cannot pre-size an exchange
    whose build side dies before any reducer runs. The pre-agg pays
    one extra shingle-generation scan instead of persisting the
    O(corpus-tokens) shingle frame (the greater evil at 100 TB); its
    own shuffle carries only (shingle, count) rows with map-side
    combine, so the session default is safe for it. Round 6: the
    exact pre-agg is GATED behind a length-arithmetic worst-case
    bound (``_capped_pair_volume_bound`` — one narrow scan, no
    tokenization, no shuffle): when even cap * (upper bound on
    shingle instances) fits the default's per-reducer quota, the
    width provably cannot exceed the default and the second scan is
    skipped — so the registered capped default costs fixture-scale
    builds one cheap length sum, not a duplicate shingle pass. When
    the derived count does not exceed the session default (every
    test/SF fixture here), NO repartition node appears — the plan is
    unchanged.
    """
    capped = max_shingle_freq is not None
    sh = word_shingles(df, text_col, id_col, n, with_size=not capped)
    if capped:
        # self-sizing gate: only pay the exact sum(df^2) pre-agg (a
        # second tokenize+shingle scan) when the length-arithmetic
        # worst case says the session default MIGHT not suffice
        default = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        # bound_src (round 8): the length sum is row-order
        # independent, so callers whose ``df`` sits on top of a
        # parallelism-restoring repartition can hand the RAW scan
        # here and the bound job skips that exchange (~0.2 s of a
        # 0.3 s job at sf0.1)
        bound = _capped_pair_volume_bound(
            df if bound_src is None else bound_src,
            text_col,
            max_shingle_freq,
        )
        n_parts = (
            _posting_shuffle_partitions(
                sh, "shingle", rows_per_partition=_JACCARD_PAIRS_PER_PARTITION
            )
            if bound > _JACCARD_PAIRS_PER_PARTITION * default
            else 0
        )
        if n_parts:
            sh = sh.repartition(n_parts, "shingle")
        # Round 9: a pin of the capped posting frame was tried here
        # (it feeds both the sizes rebuild and the pair expansion) and
        # REVERTED — the two consumers sit above the same shingle
        # exchange, which Catalyst already reuses, so the pin was
        # timing-neutral at sf0.1 while adding a full materialization
        # of the posting index to the declared 100 TB plan.
        posts = sh.groupBy("shingle").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ids")
        ).filter(F.size("ids") <= max_shingle_freq)
        # post-cap set sizes: how many SURVIVING shingles each doc has
        sizes = (
            posts.select(F.explode("ids").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("set_size"))
        )
        inter = _counted_id_pairs(
            posts.filter(F.size("ids") >= 2),
            n_parts,
            F.count(F.lit(1)).alias("n_inter"),
            sizes,
            "size_a",
            "size_b",
        ).filter(_ratio_ok(F.col("size_a"), F.col("size_b"), threshold))
    else:
        posts = sh.groupBy("shingle").agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "set_size"))).alias("ps")
        ).filter(F.size("ps") >= 2)
        pruned = F.filter(
            upper_pairs("ps", _sized_pair),
            lambda c: _ratio_ok(c["size_a"], c["size_b"], threshold),
        )
        inter = (
            posts.select(F.explode(pruned).alias("pr"))
            .groupBy("pr.id_a", "pr.id_b", "pr.size_a", "pr.size_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return (
        inter.withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def prefix_filter_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PPJoin-style PREFIX
    FILTERING — the high-threshold scale path next to the full
    inverted index of :func:`jaccard_near_dup_pairs`.

    Principle (Chaudhuri/Xiao prefix filter): order every doc's
    shingle set by a single global total order (document frequency
    ascending, shingle ascending — rarest first) and index only the
    first ``p = |x| - ceil(t*|x|) + 1`` shingles. Any pair with
    J >= t must share at least one PREFIX shingle under the common
    order, so candidate generation over prefixes alone has no false
    negatives; candidates are then verified exactly with a map-side
    ``array_intersect`` over the two full (bounded, per-doc) shingle
    arrays.

    Why this beats the full inverted index at scale when t is high:
    the posting-list expansion touches only the (1-t) fraction of
    each doc's shingles — at t=0.9 that's 10 % of the index volume —
    and because prefixes are the globally RAREST shingles, posting
    lists are short by construction (the stop-shingle problem
    disappears instead of needing a cap). Shuffles: one df-count agg
    on shingle, one shingle join to attach ranks, one per-doc agg,
    one prefix-posting agg, one candidate-pair distinct, two
    O(candidates) array-fetch joins. All keys bounded; no cartesian.

    Exactness contract: verification recomputes Jaccard from the FULL
    shingle sets, so the output equals the all-pairs answer — the
    prefix only bounds who gets verified.
    """
    sh = word_shingles(df, text_col, id_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # Round 9 (§5): per_doc feeds THREE consumers (the prefix explode
    # and both verification array-fetch sides), and its lineage — two
    # tokenize+shingle passes (sh + dfreq) plus a join and a
    # collect_list — defeats exchange reuse via the shingle lambdas.
    # Unpinned that whole build ran three times (38 Exchange refs,
    # ~6 tokenize passes at sf0.1). One pin of the O(docs)
    # bounded-array frame; values untouched.
    per_doc = pin(
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("a"))
        .select(
            "doc_id",
            F.col("a.shingle").alias("shingles"),
            F.size("a").alias("set_size"),
        )
    )
    p = (
        F.col("set_size")
        - F.ceil(F.lit(threshold) * F.col("set_size")).cast("int")
        + 1
    )
    # positions ride the posting entries (round 9): pos is the shingle's
    # 1-based rank in the doc's FULL (df, shingle)-sorted set — the
    # slice starts at element 1, so posexplode positions are global
    pre = per_doc.select(
        "doc_id",
        "set_size",
        F.posexplode(F.slice("shingles", F.lit(1), p)).alias(
            "pos0", "shingle"
        ),
    ).select(
        "doc_id", "set_size", (F.col("pos0") + 1).alias("pos"), "shingle"
    )
    posts = (
        pre.groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "set_size", "pos"))
            ).alias("ps")
        )
        .filter(F.size("ps") >= 2)
    )
    combos = upper_pairs(
        "ps",
        lambda a, b: _sized_pair(
            a,
            b,
            # PPJoin positional overlap bound for THIS shared prefix
            # shingle w: common shingles ordered <= w sit at positions
            # <= pos in both docs (<= min of the positions, w
            # included), common shingles > w in the suffixes (<= min
            # of the suffix lengths) — so n_inter <= ub_w for every
            # shared w
            (
                F.least(a["pos"], b["pos"])
                + F.least(
                    a["set_size"] - a["pos"], b["set_size"] - b["pos"]
                )
            ).alias("ub"),
        ),
    )
    pruned = F.filter(
        combos, lambda c: _ratio_ok(c["size_a"], c["size_b"], threshold)
    )
    # a pair sharing several prefix shingles repeats — dedup on the id
    # pair (sizes are functionally dependent, kept as grouping keys).
    # Round 9 (§3 "reduce the big side before shuffling it"): the
    # positional filter drops pairs whose tightest overlap bound
    # min_w ub_w cannot reach the J >= t requirement
    # n_inter >= t/(1+t)·(sa+sb) BEFORE the two wide array-fetch joins
    # and the per-pair array_intersect — verification volume was the
    # dominant cost
    # (310k candidates at sf0.1, most hopeless). The prune is
    # output-safe: ub_w is a valid upper bound on n_inter for every
    # shared prefix shingle (proof in the combos comment), so their
    # minimum is the tightest bound the pair's rows give, and the
    # comparison carries a 1e-6 slack so float rounding can only KEEP
    # a borderline pair (exact verification decides it), never drop.
    cand = (
        posts.select(F.explode(pruned).alias("pr"))
        .groupBy("pr.id_a", "pr.id_b", "pr.size_a", "pr.size_b")
        .agg(F.min("pr.ub").alias("__ub"))
        .filter(
            (1.0 + threshold) * F.col("__ub")
            >= threshold * (F.col("size_a") + F.col("size_b")) - 1e-6
        )
        .drop("__ub")
    )
    arr_a = per_doc.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    arr_b = per_doc.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    verified = (
        cand.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "n_inter", "jaccard")


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """MinHash signature per doc: for each of ``num_hashes`` seeded hash
    functions, the min over the doc's shingle set. Pure built-ins —
    no UDF, one groupBy. Hashes are the portable md5-derived 60-bit
    family (functions/hashing.py) so a DuckDB oracle can replay the
    exact signatures; swap xxhash64 back in there for a
    single-engine deployment."""
    from dissertation_iceberg_spark.functions.hashing import seeded_hash60

    sh = word_shingles(df, text_col, id_col, n)
    aggs = [
        F.min(seeded_hash60(i, F.col("shingle"))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Band the signature, hash each band, self-join on (band, hash).

    Docs colliding in >=1 band become candidate pairs (then verified
    with exact Jaccard by the caller). Shuffle key = (band, band-key):
    bounded, skew-resistant via the stop-shingle cap upstream. The
    band key is the concatenated signature slice itself (collision ⇔
    band equality, exactly) rather than a re-hash of it — same join
    cardinality, and engine-portable for the oracle gate.
    """
    cols = [c for c in signatures.columns if c.startswith("mh_")]
    assert len(cols) >= bands * rows_per_band
    band_exprs = []
    for b in range(bands):
        use = cols[b * rows_per_band : (b + 1) * rows_per_band]
        band_exprs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(",", *[F.col(c) for c in use]).alias("bh"),
            )
        )
    # Round 9: a pin of `banded` was tried here (both self-join sides
    # consume it) and REVERTED — the banded self-join's two sides
    # canonicalize identically despite the shingle lambdas, so
    # Catalyst's ReusedExchange already computes the signature
    # pipeline once, and the pin only added a write (measured: 1.75 s
    # steady-state -> 2.6 s with the pin at sf0.1).
    banded = signatures.select(
        "doc_id", F.explode(F.array(*band_exprs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.bh")
    a = banded.alias("a")
    b_ = banded.alias("b")
    return (
        a.join(b_, ["band", "bh"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 60) -> DataFrame:
    """60-bit SimHash over whitespace tokens (token multiset bit votes).

    Implemented with higher-order array functions (no Python UDF):
    for each bit position, sum +1/-1 votes across token hashes. Token
    hashes are the portable md5-derived 60-bit family
    (functions/hashing.py), so the signature is oracle-replayable in
    DuckDB and always non-negative (fits bits 0..59 of a signed 64-bit).
    """
    from dissertation_iceberg_spark.functions.hashing import HASH_BITS, hash60

    if not 1 <= bits <= HASH_BITS:
        raise ValueError(
            f"simhash supports 1..{HASH_BITS} bits (the md5-derived hash "
            f"is {HASH_BITS} bits wide; the round-2 64-bit xxhash64 "
            f"variant is gone), got {bits}"
        )
    toks = F.filter(F.split(F.col(text_col), TOKEN_SEP), lambda x: x != "")
    hashes = F.transform(toks, lambda t: hash60(t))
    bit_cols = []
    for i in range(bits):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bit_cols.append(
            F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0))
            * F.lit(2**i).cast("long")
        )
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig + c
    return df.select(F.col(id_col).alias("doc_id"), sig.alias("simhash"))


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected pair graph by min-label
    propagation: cluster_id = min node id in the component (a canonical
    representative independent of iteration order).

    This is the transitive-closure step that turns near-dup PAIRS into
    dedup CLUSTERS (the reference has no equivalent; without it, A~B
    and B~C keep both A-B and B-C "duplicates" but never links A to C).

    Iterative by nature (the one algorithm class SURVEY §2 exempts from
    single-SQL oracles — here the ORACLE is still exact via a DuckDB
    recursive CTE, because the fixpoint is order-independent). Each
    sweep is one join + one min-aggregate, both on the bounded pair
    graph (O(pairs), not O(docs)); `localCheckpoint` truncates lineage
    so plans stay flat; convergence needs O(component diameter) sweeps
    — near-dup clusters are shallow (stars/cliques), so 3-5 in
    practice, with the driver-side changed-count (an O(1) scalar) as
    the stop condition.

    Checkpoint durability boundary (round 7, exercised round 8): write
    volume is linear — one O(2 x pairs) edge list once, one O(nodes)
    label frame per sweep (SCALE.md rows). The storage tier is
    selectable via ``session.pin``: the default ``localCheckpoint``
    pins blocks to EXECUTOR storage (an executor loss kills the
    truncated lineage — acceptable locally, sweeps are cheap to rerun
    from the pair stage); ``SPARK_GRAFT_PIN=reliable`` switches every
    pin in this algorithm to an eager reliable ``checkpoint()`` on the
    cluster FS (``SPARK_GRAFT_CHECKPOINT_DIR``), which survives
    executor loss. Both tiers are hash-equal-pinned by
    tests/test_partitioning.py::test_pin_reliable_mode_hash_equal and
    the measured overhead is recorded in SCALE.md.
    """
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        # materialize the edge list ONCE: every sweep joins against sym,
        # and without this each iteration re-runs the full upstream
        # pair-generation lineage (measured: near_dup_clusters ~ 4x the
        # pair-gen cost at sf0.1). O(pairs) executor storage, spills to
        # disk — the same budget the per-sweep shuffle already needs.
        .transform(pin)
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .transform(pin)
    )
    # Labels only fall (each sweep takes min(old label, neighbor
    # labels)), so a row changed iff its new label is below the label
    # it carried in as ``old``; the candidates carry no ``old``. A
    # 1-row any-changed aggregate over the just-pinned frame is the
    # stop test, for any orderable id type. On an empty graph it reads
    # NULL and stops after one sweep.
    for _ in range(max_iter):
        cand = sym.join(labels, sym["dst"] == labels["id"]).select(
            F.col("src").alias("id"), "label"
        )
        new = (
            labels.withColumn("old", F.col("label"))
            .unionByName(cand, allowMissingColumns=True)
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                (F.min("label") < F.max("old")).alias("changed"),
            )
            .transform(pin)
        )
        labels = new.select("id", "label")
        if not new.agg(F.bool_or("changed")).first()[0]:
            break
    return labels


def containment_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """One-sided CONTAINMENT near-dup pairs:
    C = |A∩B| / min(|A|, |B|) >= threshold.

    Jaccard misses the quote/wrapper class entirely — a short document
    fully embedded in a long one has J = |A|/|B| ~ 0 but containment
    1.0; this is the dedup signal corpus pipelines use to drop
    boilerplate-wrapped copies and quoted reposts.

    Joinless posting-list expansion through :func:`upper_pairs` over
    (doc_id, set_size) postings, as in the uncapped Jaccard path, with
    one deliberate difference: NO length-ratio pruning — containment's
    whole point is pairs with very different sizes, so the ratio
    prune would delete exactly the hits. The scale knob here is the
    stop-shingle frequency cap (same argument as the Jaccard path);
    candidate volume is the same posting-list C(k,2) expansion,
    measured near-linear in SCALE.md.
    """
    sh = word_shingles(df, text_col, id_col, n, with_size=True)
    posts = (
        sh.groupBy("shingle")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "set_size"))).alias(
                "ps"
            )
        )
        .filter(F.size("ps") >= 2)
    )
    inter = (
        posts.select(F.explode(upper_pairs("ps", _sized_pair)).alias("pr"))
        .groupBy("pr.id_a", "pr.id_b", "pr.size_a", "pr.size_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    cont = (
        r6(F.col("n_inter") / F.least("size_a", "size_b"))
    )
    return (
        inter.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_inter", "containment")
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Robust-winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken, SIGMOD'03 — the MOSS algorithm): hash every word k-gram,
    then from every window of ``w`` consecutive k-gram hashes keep the
    minimum — GUARANTEEING a shared fingerprint for any match of
    length >= w+k-1 tokens, the coverage bound shingle sampling
    (0-mod-p) cannot give.

    Distributed form: a position is selected iff its hash equals the
    trailing-window minimum of SOME window containing it — i.e.
    h(p) == lead(min_trail, j)(p) for some j in [0, w), where
    min_trail is the w-row trailing min. Both the min and the w leads
    are windows PARTITIONED by document — fully parallel, no state
    beyond w rows. Tie handling: selecting every position that attains
    a window minimum yields the same distinct (doc, hash) fingerprint
    SET as any leftmost/rightmost rule, and the set is what matching
    consumes. Hashes are the portable 60-bit md5 family
    (functions/hashing.py), so the oracle replays bit-for-bit.

    Returns (doc_id, pos, h) — one row per selected k-gram position.
    """
    from dissertation_iceberg_spark.functions.hashing import hash60

    toks = F.filter(F.split(F.col(text_col), TOKEN_SEP), lambda x: x != "")
    ng = F.size(toks) - (k - 1)
    idx = F.when(ng >= 1, F.sequence(F.lit(0), ng - 1)).otherwise(
        F.array().cast("array<int>")
    )
    hashes = F.transform(
        idx, lambda i: hash60(F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )
    g = (
        df.select(F.col(id_col).alias("doc_id"), hashes.alias("__h"))
        .select("doc_id", F.posexplode_outer("__h").alias("pos", "h"))
        .filter(F.col("h").isNotNull())
    )
    wp = Window.partitionBy("doc_id").orderBy("pos")
    g = g.withColumn(
        "__m", F.min("h").over(wp.rowsBetween(-(w - 1), 0))
    )
    sel = F.lit(False)
    for j in range(w):
        sel = sel | (
            F.col("h") == F.coalesce(F.lead("__m", j).over(wp), F.lit(-1))
        )
    # window exprs can't sit in a WHERE — materialize, then filter
    return (
        g.withColumn("__keep", sel)
        .filter(F.col("__keep"))
        .select("doc_id", "pos", "h")
    )


def winnow_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints,
    scored by containment n_shared / min(|fp_a|, |fp_b|).

    Matching is the ids-only posting-list tail of the capped Jaccard
    path (:func:`upper_pairs` behind ``_counted_id_pairs``):
    fingerprints group by hash into sorted id lists, C(df,2) pairs
    expand map-side, one pair-keyed count — no join operator on the
    fingerprint table. ``max_fp_freq`` drops boilerplate fingerprints
    shared by too many docs (the stop-shingle analog) — at 100 TB run
    with a cap; per-hash fan-out is O(df^2). Doc sizes (pre-cap
    fingerprint counts) join back keyed (two broadcast-able O(docs)
    equi-joins).
    """
    fps = winnowing_fingerprints(df, text_col, id_col, k=k, w=w).select(
        "doc_id", "h"
    ).distinct()
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    # capped = the declared 100 TB path: pre-size its posting/pair
    # shuffles from the exact candidate volume (jaccard's recipe;
    # returns 0 — plan unchanged — when the default suffices)
    n_parts = (
        _posting_shuffle_partitions(fps, "h") if max_fp_freq is not None else 0
    )
    fp_src = fps.repartition(n_parts, "h") if n_parts else fps
    posts = fp_src.groupBy("h").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    if max_fp_freq is not None:
        posts = posts.filter(F.size("ids") <= max_fp_freq)
    return (
        _counted_id_pairs(
            posts.filter(F.size("ids") >= 2),
            n_parts,
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            sizes,
            "n_a",
            "n_b",
        )
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_shared").cast("double")
                / F.least(F.col("n_a"), F.col("n_b")),
                6,
            ).alias("score"),
        )
    )
