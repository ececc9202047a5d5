"""Generic deduplication operators (schema-agnostic).

Design rule for 100 TB: never form all pairs. Candidates always come
from an inverted index (shared shingle / band signature / simhash
chunk); only candidates are rescored exactly.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..iterate import checkpointed_rounds
from ..session_cache import CORPUS, materialize

# MinHash family h_i(x) = (a_i*x + b_i) mod p over 32-bit shingle ids.
_P = 4_294_967_311  # smallest prime > 2^32
_A = [2 * i + 1 for i in range(1, 129)]
_B = [i * i + 7 for i in range(1, 129)]


def tokens(col: str | Column, sep: str = " ") -> Column:
    """Split on the LITERAL separator. F.split takes a Java regex, so
    the separator is escaped first — without that, sep='|' splits
    between every character and sep='.' yields all-empty tokens,
    while shingle_rows reassembles with concat_ws's LITERAL sep:
    silently-garbage shingles (caught by the round-7 operator
    review)."""
    import re

    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, re.escape(sep))


def _spread(df: DataFrame) -> DataFrame:
    """Ensure at least core-count partitions before CPU-heavy
    per-document expressions (shingling, hashing).

    A small corpus arrives as one parquet file = ONE partition, so
    everything upstream of the first shuffle runs single-threaded —
    measured 6 s single-core vs 0.3 s spread for sf0.1 shingling. On a
    large corpus (already ≥ cores partitions) this is a no-op.

    AQE guard: when the input plan already contains a wide operator
    (join/aggregate/window/repartition), touching ``df.rdd`` under AQE
    EXECUTES every upstream query stage just to read a partition count
    — and then the real action recomputes them. Those plans were
    shuffled into parallelism by their own exchange anyway, so the
    spread is skipped entirely; the partition probe only runs on
    narrow scan-shaped plans, where resolving .rdd launches no jobs.

    The wide-operator check anchors to LINE-LEADING node names in the
    analyzed tree string (each tree line starts with its node's class
    name after the `:- `/`+- ` branch art) — a bare substring match
    would trip on any column alias or literal containing 'Join' etc.
    (e.g. a column named JoinDate) and silently disable the spread."""
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    # Deduplicate/Distinct/Intersect/Except are wide too (distinct()
    # analyzes to Deduplicate, set ops to Intersect/Except) — missing
    # them meant a dropDuplicates-shaped input fell through to the
    # .rdd partition probe, which under AQE executes the whole
    # upstream dedup shuffle just to read a count (r10 review)
    if re.search(
        r"^[ :+\-]*(Join|Aggregate|Window|Sort|Repartition"
        r"|Deduplicate|Distinct|Intersect|Except)",
        plan,
        re.M,
    ):
        return df
    ncores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < ncores:
        return df.repartition(ncores)
    return df


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    sep: str = " ",
    *,
    hashed: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, s): one row per n-gram shingle, s = xxhash64 (or the
    raw shingle string with ``hashed=False`` — used by the
    contamination screen, which joins against literal phrases).
    ``distinct=False`` skips the per-(doc, shingle) dedup shuffle —
    right when the consumer filters the stream down first (the
    contamination screen's broadcast-join) or aggregates with
    countDistinct anyway; the corpus-wide distinct is only worth its
    exchange when the downstream genuinely needs the deduped pair
    set (the inverted-index/minhash paths).

    ``n < 1`` raises: lead(w, n-1) with a NEGATIVE offset silently
    acts as lag, dropping each doc's first token and emitting
    plausible-looking garbage shingles downstream.

    posexplode + window lead(n-1) — every step is whole-stage codegen
    (no higher-order-function lambdas, which run interpreted and
    re-split the text per element). One shuffle on doc_id for the
    window; the downstream inverted-index join re-shuffles on s anyway,
    so this adds no net exchange at scale."""
    from pyspark.sql.window import Window

    if n < 1:
        raise ValueError(f"shingle n must be >= 1, got {n}")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col, sep)).alias("pos", "w"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    parts = ["w"] + [F.lead("w", k).over(wdoc) for k in range(1, n)]
    gram = toks.select(
        "doc_id",
        F.concat_ws(sep, *parts).alias("shingle"),
        F.lead("w", n - 1).over(wdoc).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    if not hashed:
        out = gram.select("doc_id", F.col("shingle").alias("s"))
    else:
        out = gram.select("doc_id", F.xxhash64("shingle").alias("s"))
    return out.distinct() if distinct else out


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(content_hash, keep_id, n_copies): hash-groupBy, min-id survivor.

    One shuffle carrying (hash, id) only — never the payload. keep_id
    keeps the caller's id dtype (string uuids work as well as longs)."""
    return (
        df.select(F.md5(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_dedup(
    new_df: DataFrame,
    index_hashes: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Classify each document of a NEW batch against the hash index of
    an existing corpus: all of ``new_df``'s columns with ``text_col``
    replaced by ``content_hash`` plus ``status`` in
    {'kept', 'dup_index', 'dup_batch'}.

    The production incremental-crawl shape: prior crawls are
    represented ONLY by their distinct content hashes
    (``index_hashes``, one ``content_hash`` column — at 100 TB a
    stored narrow index table, never the old payloads), so adding a
    new crawl costs one pass over the new data plus a hash-keyed
    join, not a re-dedup of the union. Within-batch ties go to the
    min id ('kept'); later copies are 'dup_batch'; anything already
    indexed is 'dup_index' (min-id included — the index copy wins).

    Shuffle accounting: ONE hash-keyed exchange per side for the left
    join; the within-batch min-id window partitions on the same key,
    so it reuses the join's partitioning without a further exchange.
    The shuffle carries only ``new_df``'s selected columns — callers
    pre-select id + grouping metadata, never the payload; the text
    itself dies at the map side, hashed. ``index_hashes`` must
    already be distinct (it is an index); the operator does not add a
    dedup exchange on it.
    """
    from pyspark.sql.window import Window

    hashed = new_df.withColumn("content_hash", F.md5(text_col)).drop(text_col)
    joined = hashed.join(
        index_hashes.select("content_hash").withColumn("_in_idx", F.lit(True)),
        "content_hash",
        "left",
    )
    first_id = F.min(id_col).over(Window.partitionBy("content_hash"))
    return joined.withColumn(
        "status",
        F.when(F.col("_in_idx").isNotNull(), F.lit("dup_index"))
        .when(F.col(id_col) == first_id, F.lit("kept"))
        .otherwise(F.lit("dup_batch")),
    ).drop("_in_idx")


def ngram_index(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc_id, s, df): each document's distinct n-gram shingle ids
    (:func:`shingle_rows`) with the shingle's document frequency — the
    inverted index every set-similarity pair builder caps and
    self-joins. The frequency is carried uncapped, so one stored index
    serves every ``max_df`` (:func:`_capped_pair_counts` applies the
    cap). The df count joins on the shingle id, the self-join's
    shuffle key already."""
    ex = shingle_rows(_spread(df), id_col, text_col, n)
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return ex.join(dfreq, "s").select("doc_id", "s", "df")


def bucket_pairs(rows: DataFrame, id_col: str, keys: str | list[str]) -> DataFrame:
    """(id_a, id_b, n): each pair of ``id_col`` values with id_a < id_b
    that share at least one bucket (rows with equal ``keys``), and n,
    the number of buckets they share — the candidate-pair self-join of
    every inverted-index operator (shingle postings, LSH bands, baskets,
    co-occurrence). One join on the keys, one count keyed on the pair.

    ``rows`` holds each (id, bucket) once; a repeated row is counted
    again. A null key or id pairs with nothing. Work is Σ|bucket|², so
    a caller bounds its buckets first (the ``max_df`` cap). A consumer
    that needs only the pairs selects (id_a, id_b): Catalyst prunes the
    count, and the plan is the one ``distinct()`` gives."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    a, b = rows.alias("a"), rows.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (
        a.join(b, functools.reduce(operator.and_, on))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _capped_pair_counts(
    index: DataFrame, max_df: int | None
) -> tuple[DataFrame, DataFrame]:
    """(inter, sizes): the shingles of ``index`` (:func:`ngram_index`)
    in at most ``max_df`` documents, self-joined into per-pair
    intersection counts, plus per-document capped set sizes — the
    shared front half of every set-similarity pair builder (symmetric
    Jaccard, asymmetric containment). One definition so the
    cap/shingle semantics cannot drift between the similarity tails
    (mirrors plans/dedup._ngram_index_ctes on the oracle side)."""
    ex = index if max_df is None else index.filter(F.col("df") <= max_df)
    ex = ex.select("doc_id", "s")
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("n"))
    inter = bucket_pairs(ex, "doc_id", "s").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), F.col("n").alias("n_inter")
    )
    return inter, sizes


def index_jaccard_pairs(
    index: DataFrame, threshold: float = 0.03, max_df: int | None = 100
) -> DataFrame:
    """(doc_a, doc_b, jaccard) from a stored :func:`ngram_index`: the
    symmetric-Jaccard tail of :func:`ngram_jaccard_pairs`."""
    inter, sizes = _capped_pair_counts(index, max_df)
    from .textops import round_half_up  # deferred: textops imports tokens from here

    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
    # no broadcast hint on sizes: it is one row PER DOCUMENT, i.e.
    # corpus-sized — at the module's design scale an unbounded
    # broadcast. The candidate set is already shuffled on doc ids, so
    # the shuffled join adds no extra exchange of the big side.
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", round_half_up(jac, 4).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.03,
    max_df: int | None = 100,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs sharing ≥1 n-gram shingle.

    The shared-shingle count of :func:`bucket_pairs` IS the
    intersection size (shingle sets are distinct), so no per-pair
    array math. Shingles join on xxhash64 ids (cheaper shuffle than
    strings, collision-free in practice).

    ``max_df`` (DEFAULT-ON at 100) is the document-frequency ceiling:
    shingles appearing in more than max_df documents are dropped
    BEFORE the inverted-index self-join, and jaccard is computed over
    the capped shingle sets (both intersection and sizes). Without it
    the self-join's work has an unbounded term — one stop-shingle
    ("in the the") whose posting list spans half the corpus makes a
    single bucket quadratic in corpus size. The cap bounds every
    bucket at max_df rows, so self-join work is at most
    |shingles|·max_df — linear in the index for fixed K. This is the
    standard df-pruning trick in all-pairs similarity literature;
    near-dup semantics barely change because a shingle shared by
    thousands of documents carries no pair-discriminating signal
    anyway. Pass ``max_df=None`` to disable (small-n oracle twins
    where exact uncapped jaccard is the contract).

    Composition of :func:`ngram_index` (stored: it feeds both join
    sides and the sizes) and :func:`index_jaccard_pairs`."""
    index = materialize(ngram_index(df, id_col, text_col, n), CORPUS)
    return index_jaccard_pairs(index, threshold, max_df)


def index_containment_pairs(
    index: DataFrame, threshold: float = 0.5, max_df: int | None = 100
) -> DataFrame:
    """(contained_id, container_id, containment) from a stored
    :func:`ngram_index`: the containment tail of
    :func:`containment_pairs`."""
    inter, sizes = _capped_pair_counts(index, max_df)
    from .textops import round_half_up  # deferred: textops imports tokens from here

    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    n_small = F.least(F.col("sa.n"), F.col("sb.n"))
    cont = F.col("n_inter").cast("double") / n_small
    # doc_a < doc_b by the self-join's ordering, so on a size tie
    # `otherwise` already names the larger id as contained
    a_contained = F.col("sa.n") < F.col("sb.n")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(cont >= threshold)
        .select(
            F.when(a_contained, F.col("doc_a")).otherwise(F.col("doc_b")).alias("contained_id"),
            F.when(a_contained, F.col("doc_b")).otherwise(F.col("doc_a")).alias("container_id"),
            round_half_up(cont, 4).alias("containment"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 100,
) -> DataFrame:
    """(contained_id, container_id, containment): ASYMMETRIC near-dup —
    |A∩B| / |smaller shingle set|, the one-sided containment score.

    Symmetric Jaccard under-scores exactly the duplication web crawls
    produce most: a short page quoted wholesale inside a long one (a
    syndicated article inside a portal page, a README pasted into a
    monorepo dump). If |A|=100 and A ⊂ B with |B|=2000, Jaccard is
    ~0.05 — invisible at any sane threshold — while containment is
    1.0. Dedup literature treats containment as the second first-class
    score next to resemblance for this reason.

    The directed output names the SMALLER set as `contained_id`
    (tie on size: the LARGER doc_id is the contained one, matching
    the keep-smallest-id survivor convention everywhere else in this
    module). Threshold applies to the raw ratio; the reported score is
    half-up-rounded at 4dp like the Jaccard family.

    Scale shape: identical to the Jaccard builder — same df-capped
    inverted-index self-join (work ≤ |shingles|·max_df), same
    shuffles; only the per-pair scalar tail differs. At 100 TB the cap
    is what bounds the posting-list buckets, not the score choice."""
    index = materialize(ngram_index(df, id_col, text_col, n), CORPUS)
    return index_containment_pairs(index, threshold, max_df)


def portable_shingle_ids(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, s): distinct md5-prefix shingle ids — THE portable
    shingle identity (DuckDB twin: ('0x'||substr(md5(g),1,8))::BIGINT).
    Distinct ONCE, after the md5-prefix collapse: shingle_rows' default
    distinct on raw strings would add a second corpus-sized exchange
    for an identical result (md5 is deterministic, so post-conv
    distinct subsumes it; prefix collisions collapse identically in
    any engine). One definition shared by the portable MinHash pipeline
    and the LSH-recall evaluation's exact ground truth."""
    raw = shingle_rows(df, id_col, text_col, shingle_n, hashed=False, distinct=False)
    return raw.select(
        "doc_id",
        F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("bigint").alias("s"),
    ).distinct()


def minhash_signatures(sh_rows: DataFrame, n_hashes: int) -> DataFrame:
    """(doc_id, h0..h{n-1}): MinHash signature frame from a shingle-id
    frame ``sh_rows(doc_id, s)`` through the fixed (a_i·x+b_i) mod p
    family — THE one signature definition (extracted from
    minhash_lsh_pairs so the estimate-accuracy evaluation scores the
    exact signatures the production pipeline bands, not a re-typed
    copy; mirrors the oracle's `sigs` CTE)."""
    tok = sh_rows.select("doc_id", F.pmod("s", F.lit(2**32)).alias("tid"))
    sig_cols = [
        F.min((F.lit(_A[i]) * F.col("tid") + F.lit(_B[i])) % F.lit(_P)).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return tok.groupBy("doc_id").agg(*sig_cols)


def minhash_band_candidates(
    sigs: DataFrame, n_hashes: int, bands: int
) -> DataFrame:
    """(doc_a, doc_b): distinct band-equality candidate pairs from a
    signature frame — the LSH bucket join (oracle twin: the `bnd` +
    `cand` CTEs). One definition shared by the pair pipeline and the
    estimate-accuracy evaluation."""
    rows = n_hashes // bands
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws("_", *[f"h{bi * rows + r}" for r in range(rows)]).alias("sig"),
        )
        for bi in range(bands)
    ]
    bnd = sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bs")).select(
        "doc_id", "bs.band", "bs.sig"
    )
    return bucket_pairs(bnd, "doc_id", ["band", "sig"]).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    portable_hash: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, jaccard≥threshold) via shingle→minhash→band→
    bucket-join→exact-rescore. bands/rows tune the S-curve: 8 bands ×
    4 rows catches J≳0.85 with high probability.

    Signatures hash the shingle id through the fixed (a_i·x+b_i) mod p
    family — deterministic across runs. Shingle ids come from
    xxhash64(shingle) mod 2^32 by default (the cheap JVM hash — the
    100 TB path), or with ``portable_hash=True`` from the first 8 hex
    chars of md5(shingle): ~3× costlier per shingle but computable
    IDENTICALLY by any engine with md5 (DuckDB: ('0x'||substr(md5(s),
    1,8))::BIGINT), which makes the complete pipeline — signatures,
    bands, candidate set, rescore — externally checkable bit-for-bit,
    not just sanity-checked.

    Composition of :func:`minhash_signatures`,
    :func:`minhash_band_candidates` and :func:`minhash_rescore`."""
    df = _spread(df)
    if n_hashes % bands:
        raise ValueError("n_hashes must be divisible by bands")
    if n_hashes > len(_A):
        # the deterministic hash family is pregenerated at module load
        # — fail with the limit named instead of an IndexError from
        # deep inside plan construction
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the {len(_A)}-function "
            "deterministic hash family (_A/_B); widen the family to go higher"
        )
    # stored: read by the signatures and by the exact rescore
    if portable_hash:
        sh_rows = portable_shingle_ids(df, id_col, text_col, shingle_n)
    else:
        sh_rows = shingle_rows(df, id_col, text_col, shingle_n)
    sh_rows = materialize(sh_rows, CORPUS)
    sigs = minhash_signatures(sh_rows, n_hashes)
    # cand is read twice by the rescore (the doc prefilter + the final
    # pair join): store the NARROW pair frame so the heavy
    # signature->banding lineage behind it computes exactly once
    # (unstored, the prefilter re-ran it and quintupled the query)
    cand = materialize(minhash_band_candidates(sigs, n_hashes, bands), CORPUS)
    return minhash_rescore(sh_rows, cand, threshold)


def minhash_rescore(sh_rows: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard≥threshold): the exact Jaccard of each
    candidate pair ``cand(doc_a, doc_b)`` over the shingle-id sets
    ``sh_rows(doc_id, s)`` — the rescore tail of
    :func:`minhash_lsh_pairs`. Both frames are read more than once, so
    a caller passes stored ones.

    The sets are built ONLY for documents that appear in a candidate
    pair: collect_set over the whole corpus would materialize
    document-width arrays for every doc and then discard almost all of
    them in the join (the filter can't push through the aggregate);
    the left-semi prefilter bounds the heaviest shuffle to candidate
    docs, honoring the module's only-candidates-are-rescored design
    rule. Fixture-scale honesty: the prefilter still costs ~1.9x here
    BECAUSE the toy corpus's candidate set covers most documents — no
    pruning can pay off; at 10^9 docs with ~1e6 candidate pairs it is
    the difference between a corpus-wide collect_set of
    document-width arrays and a bounded one."""
    from .textops import round_half_up  # deferred: circular with textops

    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shsets = (
        sh_rows.join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("s")).alias("ws"))
    )
    wa, wb = shsets.alias("wa"), shsets.alias("wb")
    inter = F.size(F.array_intersect(F.col("wa.ws"), F.col("wb.ws"))).cast("double")
    union = F.size(F.col("wa.ws")) + F.size(F.col("wb.ws")) - inter
    return (
        cand.join(wa, F.col("doc_a") == F.col("wa.doc_id"))
        .join(wb, F.col("doc_b") == F.col("wb.doc_id"))
        # threshold on the RAW ratio (the oracle's WHERE does the same);
        # rounding is presentation only — filtering on the rounded value
        # would keep pairs in [threshold-0.00005, threshold) the oracle drops
        .filter(inter / union >= threshold)
        .withColumn("jaccard", round_half_up(inter / union, 4))
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, hamming≤max) via 64-bit SimHash, 4×16-bit-chunk
    banding.

    Pigeonhole: hamming ≤ 3 over 4 chunks ⇒ at least one chunk equal,
    so the chunk-equality join finds every qualifying pair. 16-bit
    chunks give 65,536 bucket values per chunk — the bucket domain that
    keeps chunk-equality candidates ~n²/65536 per band at corpus scale
    (an 8-bit chunk, 256 values, stops pruning and degenerates
    quadratically). Token ids come from xxhash64; the signature is kept
    as the four chunk values c0..c3 (never assembled into one 64-bit
    word — bit 63 would overflow a signed literal), with hamming =
    Σ bit_count(cᵢ ⊕ cᵢ').

    ``portable_hash=True`` draws the 64 token bits from four 4-hex-char
    md5 slices (16 bits each) instead of xxhash64 — reproducible in any
    engine with md5, making the full signature/banding/hamming pipeline
    externally checkable (same rationale as minhash_lsh_pairs)."""
    df = _spread(df)
    tok = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    if portable_hash:
        for k in range(4):
            tok = tok.withColumn(
                f"t{k}",
                F.conv(F.substring(F.md5("word"), 4 * k + 1, 4), 16, 10).cast("int"),
            )

        def _bit(b: int) -> Column:
            k, j = divmod(b, 16)
            return F.shiftright(f"t{k}", j).bitwiseAND(F.lit(1))

    else:
        tok = tok.withColumn("tid", F.xxhash64("word"))

        def _bit(b: int) -> Column:
            return F.shiftright("tid", b).bitwiseAND(F.lit(1))

    bit_cols = [
        F.sum(F.when(_bit(b) == 1, F.col("w")).otherwise(-F.col("w"))).alias(f"s{b}")
        for b in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_cols)
    chunk_vals = [
        sum(
            (
                F.when(F.col(f"s{16 * c + j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(16)
            ),
            F.lit(0),
        ).alias(f"c{c}")
        for c in range(4)
    ]
    sh = agg.select("doc_id", *chunk_vals)
    return hamming_band_pairs(sh, max_hamming=max_hamming)


def hamming_band_pairs(sig: DataFrame, *, max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming≤max) from a 64-bit signature frame with
    columns (doc_id, c0..c3) — the 4×16-bit-chunk band join shared by
    SimHash (text signatures) and the perceptual-hash family (image
    signatures): chunk-equality candidates, Σ bit_count(cᵢ ⊕ cᵢ')
    rescore, pigeonhole-complete for hamming ≤ 3 (see simhash_pairs
    for the bucket-domain scale argument)."""
    if max_hamming > 3:
        # the pigeonhole completeness guarantee (>=1 equal chunk) only
        # holds for hamming <= chunks-1 = 3; a larger threshold would
        # SILENTLY drop qualifying pairs whose differing bits spread
        # one-per-chunk — refuse rather than under-recall
        raise ValueError(
            f"max_hamming={max_hamming} exceeds 3, the completeness bound "
            "of the 4x16-bit chunk banding (a pair with one differing bit "
            "per chunk has no equal chunk and would be silently missed); "
            "use minhash_lsh_pairs for looser similarity thresholds"
        )
    chunk_structs = [
        F.struct(F.lit(c).alias("chunk"), F.col(f"c{c}").alias("val")) for c in range(4)
    ]
    chunks = sig.select(
        "doc_id", "c0", "c1", "c2", "c3", F.explode(F.array(*chunk_structs)).alias("cv")
    ).select("doc_id", "c0", "c1", "c2", "c3", "cv.chunk", "cv.val")
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = sum(
        (
            F.bit_count(F.col(f"a.c{c}").bitwiseXOR(F.col(f"b.c{c}")))
            for c in range(1, 4)
        ),
        F.bit_count(F.col("a.c0").bitwiseXOR(F.col("b.c0"))),
    )
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_clusters_star(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """(doc_id, cluster_id): connected components via alternating
    large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm).

    Converges in O(log² n) rounds regardless of component DIAMETER,
    vs O(diameter) for :func:`dedup_clusters`'s label propagation —
    the variant to use when near-dup chains run deep (long transitive
    paraphrase chains). Per step: one groupBy(min) + one join, both
    on node ids only; each large-star and each small-star step is one
    ``checkpointed_rounds`` round (same lineage-truncation rationale
    as dedup_clusters) and convergence is one (count, hash-xor) driver
    tuple after each small-star step.

    Star steps over the symmetrized neighborhood Γ(u), with
    m = min(Γ(u) ∪ {u}):
      large-star: emit (v, m) for v ∈ Γ(u), v > u
      small-star: emit (v, m) for v ∈ Γ(u), v < u, plus (u, m)
    At the fixpoint the edge set is a star forest (v → component
    minimum). Output contract matches dedup_clusters exactly.
    """

    def _neighborhood_min(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mn = sym.groupBy("src").agg(F.min("dst").alias("_nbr_min"))
        return (
            sym.join(mn, "src")
            .withColumn("m", F.least(F.col("src"), F.col("_nbr_min")))
            .drop("_nbr_min")
        )

    def _fingerprint(e: DataFrame):
        # bit_xor: orderless and overflow-free under ANSI mode (sum of
        # hashes overflows long); edges are distinct so XOR can't cancel
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    def _star_step(e: DataFrame, r: int) -> DataFrame:
        g = _neighborhood_min(e)
        # odd rounds large-star (v > u), even rounds small-star (v < u)
        side = F.col("dst") > F.col("src") if r % 2 else F.col("dst") < F.col("src")
        out = g.filter(side).select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        if not r % 2:
            out = out.unionByName(g.select("src", F.col("m").alias("dst")).distinct())
        return out.filter(F.col("src") != F.col("dst")).distinct()

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    fp = _fingerprint(edges)
    for r, edges in enumerate(
        checkpointed_rounds(edges, _star_step, 2 * max_iter), start=1
    ):
        if r % 2:
            continue  # convergence is checked after each small-star step
        new_fp = _fingerprint(edges)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        import warnings

        warnings.warn(
            f"dedup_clusters_star did not converge within max_iter={max_iter}",
            stacklevel=2,
        )
    # star forest -> labels: non-roots point at their root; roots
    # label themselves. The terminal groupBy-min guarantees ONE row
    # per node even on a non-convergent max_iter exit (where the edge
    # set may not yet be a star forest and a node can appear both as
    # a labeled src and a self-labeled dst) — without it the output
    # shape itself is corrupt (duplicate conflicting labels that
    # double-count in any cluster-size rollup); min matches the
    # deterministic single-label degradation dedup_clusters has, and
    # is the identity on a converged forest.
    non_roots = edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
    roots = edges.select(F.col("dst").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return (
        non_roots.unionByName(roots)
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def dedup_clusters(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """(doc_id, cluster_id): connected components over near-dup pairs
    by iterative min-label propagation.

    Input: (doc_a, doc_b) edges from any pair generator above. Each
    round every node adopts the smallest cluster id among itself and
    its neighbors; converges in O(component diameter) rounds (near-dup
    components are tiny, so max_iter=10 is generous). Iterative joins
    are the one shape Catalyst can't express declaratively — each
    round is a ``checkpointed_rounds`` round (materialized, lineage
    cut: without the cut each round's plan nests every previous join
    and a 14-round chain stalls planning) and the loop stops early
    when a round changes nothing (checked via a cheap count, the only
    driver-side value)."""
    edges = materialize(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct(),
        CORPUS,
    )

    def _propagate(labels: DataFrame, _r: int) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        return labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )

    # the try must open BEFORE the first round — that is the first
    # job over the persisted edges frame; failing there would pin the
    # cache the finally exists to release
    try:
        labels = (
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("cluster_id", F.col("doc_id"))
        )
        for updated in checkpointed_rounds(labels, _propagate, max_iter):
            changed = (
                updated.join(labels.withColumnRenamed("cluster_id", "old"), "doc_id")
                .filter(F.col("cluster_id") != F.col("old"))
                .limit(1)
                .count()
            )
            labels = updated
            if changed == 0:
                break
        else:
            import warnings

            warnings.warn(
                f"dedup_clusters did not converge within max_iter={max_iter} "
                "rounds; components wider than that are split — raise max_iter",
                stacklevel=2,
            )
    finally:
        # unpersist on EVERY exit (mid-loop failure would pin
        # the edge cache in the shared session) — same
        # discipline as graph.pagerank
        edges.unpersist()
    # returned labels are a localCheckpoint: materialized, lineage-free
    # (no loop replay on reuse); blocks are GC'd with the DataFrame.
    return labels
