"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard verification, embedding-cosine near-dup.

Scale design (the whole point at 100TB):
- Exact dedup is one hash-aggregate on a 32-char digest, not on the text.
- MinHash/SimHash signatures are computed as PURE ARRAY EXPRESSIONS per row
  (no explode, no shuffle, no Python) — a narrow map stage.
- Candidate generation is banded LSH: explode only B small band keys per
  doc and self-join on them — the only shuffle, on short keys, AQE-skew
  friendly. Never all-pairs.
- Verification (exact Jaccard / cosine / Hamming) runs only on candidate
  pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bbt_etl_dw_spark.operators.ckpt import lazy_materialize, materialize
from bbt_etl_dw_spark.operators.textstats import bind_once, md5_fingerprint, shingles


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) documents: fingerprint ->
    (keep_id = min id, n_dups). One hash-agg shuffle on the digest."""
    return (
        df.select(F.col(id_col).alias("doc_id"), md5_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group."""
    keep = exact_dup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def incremental_exact_dedup(
    history: DataFrame, batch: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Dedup an incoming batch against an already-ingested corpus: drop
    batch docs whose fingerprint exists in ``history`` OR duplicates
    another batch doc (min-id representative wins), return the surviving
    batch rows. The streaming-ingest shape of exact dedup — a training
    corpus is built in appends, and re-fingerprinting the full corpus per
    batch is O(corpus) instead of O(batch).

    Scale: both sides reduce to 32-char digests before any join; the
    in-batch keep is one hash agg on the digest, the history check is a
    left-anti digest join (at 100TB the history side is a compact
    fingerprint table — never the text — and AQE broadcasts it when a
    small batch lands against a pruned fingerprint partition)."""
    hist_fp = history.select(md5_fingerprint(text_col).alias("fp")).distinct()
    batch_fp = batch.select(F.col(id_col), md5_fingerprint(text_col).alias("fp"))
    keep = (
        batch_fp.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .join(hist_fp, "fp", "left_anti")
    )
    return batch.join(keep.select(id_col), id_col, "left_semi")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


_LONG_MAX = (1 << 63) - 1
_MERSENNE31 = (1 << 31) - 1


def _per_shingle_hashes(text_col: str, num_hashes: int, shingle_k: int) -> Column:
    """array<array<long>>: the full hash-family row per shingle. The
    shingle array is referenced exactly ONCE — computing H mins as separate
    expressions would re-inline (and re-evaluate) the shingle computation H
    times after projection collapse, since higher-order functions get no
    codegen subexpression elimination.

    The family is md5-derived universal hashing: each shingle STRING is
    hashed once (md5), two independent 48-bit values h1/h2 come from hex
    substrings, and slot i's hash is (h1 + i*h2) mod (2^31 - 1). The
    intermediate maxes at ~2^54 — no signed overflow anywhere — and the
    MODULAR WRAPAROUND is load-bearing, not decoration: without it the
    family is monotone in i, slot argmins correlate (one shingle with a
    small (h1, h2) pair dominates every slot), and banded LSH misses
    jaccard-0.9 pairs outright — observed, not hypothetical. With the mod,
    each slot is a fresh universal permutation. Two properties paid for:
    - ONE string hash per shingle; the H family members are integer
      arithmetic (an H-string-hash family would dominate signature cost);
    - every value is reproducible in ANY engine with md5 (unlike
      xxhash64), so the full MinHash->LSH->verify pipeline carries a
      value-level DuckDB oracle — the driver checks the production path
      itself, not a companion."""
    sh = shingles(text_col, shingle_k)
    # transform-over-sequence instead of an H-wide explicit F.array: the
    # hash VALUES are identical (lambda var i == lit(i), both int), but the
    # expression tree is O(1) instead of O(H) — measurably cheaper Catalyst
    # analysis on every plan build (bench rebuilds plans per run, as would
    # any query service).
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.transform(
        sh,
        lambda s: bind_once(
            F.md5(s),
            lambda m: bind_once(
                F.conv(F.substring(m, 1, 12), 16, 10).cast("long"),
                lambda h1: bind_once(
                    F.conv(F.substring(m, 13, 12), 16, 10).cast("long"),
                    lambda h2: F.transform(
                        idx, lambda i: (h1 + i * h2) % F.lit(_MERSENNE31).cast("long")
                    ),
                ),
            ),
        ),
    )


def _minhash_fold(text_col: str, num_hashes: int, shingle_k: int, finish=None) -> Column:
    """Single-pass element-wise-min fold of the per-shingle hash rows.
    ``finish`` (if given) post-processes the EVALUATED signature array —
    the only safe place to fan out many references to it."""
    return F.aggregate(
        _per_shingle_hashes(text_col, num_hashes, shingle_k),
        F.array_repeat(F.lit(_LONG_MAX).cast("long"), num_hashes),
        lambda acc, hs: F.zip_with(acc, hs, lambda a, h: F.least(a, h)),
        finish,
    )


def minhash_band_keys(
    text_col: str, num_hashes: int, bands: int, shingle_k: int
) -> Column:
    """B band-bucket keys: md5-prefix of each R-slot slice of the
    signature (16 hex chars — short shuffle key, zero practical collision
    mass, and reproducible by the SQL oracle, unlike xxhash64), computed
    in the fold's finish lambda so the signature is an evaluated array,
    never a re-inlined expression."""
    if not (1 <= bands <= num_hashes) or num_hashes % bands != 0:
        # bands > num_hashes gives rows=0: every band key is md5('') and
        # ALL docs collide into one bucket per band — on a big corpus the
        # bucket-size cap then drops it and LSH silently finds NOTHING;
        # a non-dividing value silently ignores trailing signature slots.
        raise ValueError(
            f"minhash bands={bands} must divide num_hashes={num_hashes} "
            f"(rows-per-band = num_hashes/bands must be a whole number >= 1)"
        )
    rows = num_hashes // bands

    def finish(sig: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ",", *[sig[b * rows + r].cast("string") for r in range(rows)]
                            )
                        ),
                        1,
                        16,
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )

    return _minhash_fold(text_col, num_hashes, shingle_k, finish)


def bucket_pairs(
    buckets: DataFrame,
    key_cols: list[str],
    id_col: str = "doc_id",
    payload_cols: tuple[str, ...] = (),
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Distinct candidate pairs of items sharing a bucket key, as struct
    columns ``a``/``b`` with fields (id, *payload_cols) and a.id < b.id.

    One groupBy shuffle of skinny (key, id, payload) rows + in-bucket pair
    expansion — NOT a self-join, which would re-run the (expensive)
    signature computation for each side and shuffle the rows twice.
    Buckets larger than ``max_bucket_size`` are dropped: at scale a
    degenerate bucket (e.g. boilerplate/empty docs) explodes O(n²) and its
    members are near-certainly exact dups already caught by
    :func:`exact_dedup`."""
    w = Window.partitionBy(*key_cols)
    capped = (
        buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )
    # Sort-merge self-join, NOT broadcast: SMJ streams the O(n²)-per-bucket
    # pair expansion and both sides share one shuffle layout. (A
    # collect_list + in-array expansion materializes each bucket's full
    # pair set in memory — measurably slower on dense buckets.) The window
    # count rides the join's own hash partitioning — no extra shuffle.
    a, b = capped.alias("a").hint("merge"), capped.alias("b").hint("merge")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))

    def side(tag: str) -> Column:
        return F.struct(
            F.col(f"{tag}.{id_col}").alias("id"),
            *[F.col(f"{tag}.{c}").alias(c) for c in payload_cols],
        )

    return (
        a.join(b, cond)
        .select(side("a").alias("a"), side("b").alias("b"))
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded MinHash-LSH.
    With H=64, B=16 (R=4), the match-probability curve crosses ~0.5 at
    Jaccard ≈ (1/16)^(1/4) ≈ 0.5 — tune B/R for the target threshold."""
    buckets = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(minhash_band_keys(text_col, num_hashes, bands, shingle_k)).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bucket")
    return bucket_pairs(buckets, ["band", "bucket"]).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only: join shingle sets back
    twice (broadcast-eligible candidate side), array_intersect/union.

    The corpus is semi-join-pruned to docs that actually appear in a
    candidate pair BEFORE shingles are computed: Catalyst cannot push a
    join's row pruning below the expensive shingle projection on its own,
    so without this every doc in the corpus is tokenized (twice — once per
    join side) to verify a candidate set ~100x smaller. Verification cost
    is O(candidates), not O(corpus) — the property that matters when the
    corpus is 100TB and the candidate set is a few percent."""
    # the pair list is small (that is the point of LSH); materialize it
    # once so the upstream candidate pipeline (signatures + bucket join)
    # is not re-executed for each of its three uses below (reliable
    # checkpoint when a checkpoint dir is configured — see operators/ckpt.py)
    candidates = materialize(candidates)
    cand_ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    # cand_ids is BROADCAST into the semi-join (r14 plan audit: left to
    # Catalyst the semi planned as a sort-merge join — a full sort +
    # exchange of the corpus scan, twice, since `sh` feeds both pair
    # sides). Bounded by 2x|candidate pairs| — small is the point of
    # LSH — but a degenerate high-duplication corpus can push it toward
    # O(N), so the forced hint sits behind the loud size guard: a clear
    # error naming the frame instead of a driver OOM three stages later
    # (same discipline as the basket frequency table).
    from bbt_etl_dw_spark.operators.guards import assert_broadcastable

    cand_ids = assert_broadcastable(
        cand_ids,
        label="jaccard_verify: candidate doc-id set",
        remedy=(
            "the candidate set is corpus-scale — tighten the LSH bands/"
            "threshold upstream, or replace the broadcast semi-join with "
            "a shuffle semi-join"
        ),
    )
    sh = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .select("doc_id", shingles(text_col, shingle_k).alias("sh"))
    )
    # `sh` is referenced TWICE below (id_a attach + id_b attach): left
    # un-materialized, the corpus scan + semi-join + the lambda-heavy
    # shingle transform execute once per side (r14 before-plan: two
    # parquet scans of documents, two LeftSemi joins). One checkpoint of
    # the candidate-pruned (doc_id, shingle-array) rows — O(candidates)
    # by the semi-join — halves the operator's dominant CPU.
    sh = materialize(sh)
    out = (
        candidates.join(sh.withColumnsRenamed({"doc_id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"doc_id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    max_shingle_df_guard: int | None = 1_000_000,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard via a shingle inverted index: explode
    word k-shingles, self-join on the shingle (the only wide shuffle),
    count shared shingles per pair, finish with |A∩B| / (|A|+|B|-|A∩B|).

    The exploded index is MATERIALIZED once before the self-join (r07 plan
    audit: relying on exchange reuse recomputed the full scan + shingle
    Generate on both join sides — and when one side broadcasts, there is
    no exchange to reuse at all). One checkpoint write of skinny
    (doc_id, n, sh) rows replaces the second corpus scan and the second
    evaluation of the lambda-heavy shingle transform — the dominant CPU
    of this operator.

    Set sizes ride the exploded rows (``size(shs)`` computed before the
    explode) and are recovered with ``first`` in the pair aggregation — no
    extra join against a per-doc sizes table.

    Scale: exact all-pairs is the ground-truth/audit path. A stop-gram
    shared by f docs fans out O(f²) pairs; ``max_shingle_df`` drops
    shingles with document frequency above the cap (standard in web-dedup
    pipelines — frequent shingles carry ~no Jaccard signal but all the
    skew). The production path at 100TB composes :func:`minhash_candidates`
    -> :func:`jaccard_verify` instead; this operator is its oracle.

    ``max_shingle_df_guard`` is the loud twin of the cap (r08 review, same
    class as the basket C(k,2) guard): with no cap set, one shingle shared
    by f surviving docs emits ~f²/2 pairs from a single join key — at
    corpus scale a boilerplate phrase makes that ~10^12 rows out of one
    task, and the plan lint cannot see it (the join is a legitimate
    equi-join). The guard is a skinny per-shingle count over the already-
    materialized index filtered to violators (normally empty) joined back
    with ``raise_error``: bit-exact results whenever it passes, loud
    failure instead of a melted stage when it would not. Raise the guard
    or switch to the capped/minhash path deliberately; ``None`` disables.
    """
    sh = df.select(
        F.col(id_col).alias("doc_id"), shingles(text_col, shingle_k).alias("shs")
    ).select("doc_id", F.size("shs").alias("n"), F.explode("shs").alias("sh"))
    if max_shingle_df is not None:
        w = Window.partitionBy("sh")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
        # Recompute set sizes over the SURVIVING shingles so the ratio stays
        # an exact Jaccard within the capped shingle universe. Keeping the
        # pre-filter sizes would count dropped high-DF shingles in n_a/n_b
        # but never in the intersection, biasing jaccard low near the
        # threshold. One extra window shuffle on doc_id — audit path only.
        sh = sh.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    # One shingle pass feeds both join sides. LAZY on the local path: the
    # guard's hot-shingle aggregate (or, with the guard disabled, the
    # pair join itself) materializes the blocks in the same job (r15) —
    # the eager form paid a separate ckpt-write job per execution.
    sh = lazy_materialize(sh)
    if max_shingle_df_guard is not None:
        # The violator set is BROADCAST (r14 plan audit): left as a plain
        # left join, Catalyst picked a sort-merge join keyed on the
        # shingle — a full sort + exchange of the materialized index on
        # EACH self-join side, ~5s of the 7.2s pair stage at sf0.1, all
        # spent guarding against a set that is empty whenever the query
        # survives. `hot` is bounded by construction: a shingle needs
        # df > guard to enter it, so |hot| <= n_index_rows / guard
        # (one row per million index rows at the default), and any
        # non-empty hot set raises at execution anyway.
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_sdf"))
            .filter(F.col("_sdf") > max_shingle_df_guard)
        )
        sh = (
            sh.join(F.broadcast(hot), "sh", "left")
            .withColumn(
                "sh",
                F.when(
                    F.col("_sdf").isNotNull(),
                    F.raise_error(
                        F.concat(
                            F.lit("ngram_jaccard_pairs: shingle appears in "),
                            F.col("_sdf").cast("string"),
                            F.lit(
                                " docs > max_shingle_df_guard="
                                f"{max_shingle_df_guard}; the self-join "
                                "would emit ~f^2/2 pairs from one key — "
                                "set max_shingle_df to cap, use the "
                                "minhash path, or raise the guard "
                                "deliberately"
                            ),
                        )
                    ),
                ).otherwise(F.col("sh")),
            )
            .drop("_sdf")
        )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n")).alias("n_a"),
            F.first(F.col("b.n")).alias("n_b"),
        )
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def collapsed_jaccard_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Component-equivalent edge list for exact-Jaccard clustering, with
    EXACT-DUPLICATE PRE-COLLAPSE before the quadratic stage.

    Real crawls (and the sf1 scale probe) are exact-dup-heavy; identical
    normalized texts have identical shingle sets, so every member of an
    exact-dup group is Jaccard-interchangeable. This operator therefore
    emits (a) one ``rep -> member`` edge per non-representative member
    (jaccard 1.0 — identical sets) and (b) the full
    :func:`ngram_jaccard_pairs` output over the min-id REPRESENTATIVES
    only. The shingle self-join — the superlinear stage — runs over
    distinct texts instead of all docs: on a corpus where each doc has d
    exact copies that is a ~d² pair-stage reduction.

    NOT the same pair list as :func:`ngram_jaccard_pairs` — same
    CONNECTED COMPONENTS. Equivalence: (i) every emitted edge is a true
    pair-graph edge (intra edges have jaccard exactly 1 ≥ threshold;
    rep-rep edges are verified pairs); (ii) every pair-graph edge (u, v)
    is covered — jaccard(u, v) = jaccard(rep(u), rep(v)) because
    fingerprint-equal docs share the exact shingle set, so the
    rep(u)-rep(v) edge exists (or u, v share a rep) and u, v connect to
    their reps via intra edges. Hence ``dedup_clusters`` over this edge
    list is BIT-IDENTICAL to clustering the full pair list (the
    recursive-CTE oracle of ``doc_dedup_clusters`` pins this).

    NULL-text docs never pair in the full plan (NULL shingles fail the
    equi-join), so NULL fingerprints are exempt from collapse: each such
    doc stays its own representative and emits no intra edge.

    No ``max_shingle_df`` knob on purpose: the component-equivalence
    proof above holds only for the UNCAPPED pair graph — under a DF cap
    an exact-dup pair can lose all its shingles (df over the cap) and
    drop out of the full pair list while the intra edge would keep it,
    so the two plans genuinely diverge. Capped audits belong on
    :func:`ngram_jaccard_pairs` directly."""
    sk = df.select(
        F.col(id_col).alias("doc_id"), md5_fingerprint(text_col).alias("_fp")
    )
    grp = sk.filter(F.col("_fp").isNotNull())
    # min-id representative per identical-text group: one skinny hash agg
    repmap = grp.groupBy("_fp").agg(F.min("doc_id").alias("_rep"))
    members = grp.join(repmap, "_fp").filter(F.col("doc_id") != F.col("_rep"))
    # `members` feeds TWO subtrees (the intra edge list and the reps
    # anti-join below) and a DataFrame referenced twice is PLANNED twice
    # (the r14 systemic finding): left lazy, the corpus is scanned and
    # md5-fingerprinted once inside the shingle-index checkpoint AND
    # again inside the edge checkpoint (r15 job profile: two extra
    # single-threaded document scans per execution). The frame is skinny
    # (doc_id, _rep — text dropped) and bounded by the corpus row count,
    # the same grain the minhash corpus index persists. Lazy: the first
    # consumer (the shingle-index materialization, whose reps side
    # anti-joins it) writes the blocks inside its own job.
    members = lazy_materialize(members.select("doc_id", "_rep"))
    intra = members.select(
        F.col("_rep").alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.lit(1.0).alias("jaccard"),
    )
    # representatives (NULL-fp docs included automatically): anti-join on
    # the skinny non-rep id list — text rides one exchange at most
    reps = df.join(
        members.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )
    rep_pairs = ngram_jaccard_pairs(reps, id_col, text_col, shingle_k, threshold)
    return rep_pairs.unionByName(intra)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify."""
    cands = minhash_candidates(df, id_col, text_col, num_hashes, bands, shingle_k)
    return jaccard_verify(df, cands, id_col, text_col, shingle_k, threshold)


def _star_components(
    edges: DataFrame, max_rounds: int = 40, reliable_checkpoint: bool | None = None
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the high-diameter fallback behind :func:`dedup_clusters`.

    Per round, for each node u with inclusive-neighborhood minimum
    m = min(N(u) ∪ {u}):
      - large-star rewires every strictly-larger neighbor v > u to m;
      - small-star rewires every neighbor v <= u (and u itself) to m.
    Both are one groupBy (the min) + one join (the rewire) on skinny id
    pairs. The edge set converges to a star forest — every node pointing
    at its component minimum — in O(log² n) rounds REGARDLESS of graph
    diameter, which is the property min-label propagation (O(diameter)
    rounds) lacks on pathological near-dup chains.

    ``edges`` must be the symmetric, distinct, self-loop-free adjacency
    list (src, dst). Returns (doc_id, cluster_id). Raises if the edge set
    has not stabilized after ``max_rounds`` (never silently wrong); the
    star-forest shape of the result is asserted outright."""
    # Lazy per-round truncation throughout (local path): the convergence
    # count right after each round materializes that round's blocks in
    # the same job (r15; same contract as dedup_clusters' label rounds).
    cur = lazy_materialize(edges, reliable_checkpoint)
    stable = False
    for _ in range(max_rounds):
        def nbhd_min(nbr: DataFrame) -> DataFrame:
            return (
                nbr.groupBy("src")
                .agg(F.min("dst").alias("_mn"))
                .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
            )

        # large-star: (v, m(u)) for each neighbor v > u
        lmin = nbhd_min(cur)
        large = (
            cur.join(lmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        sym_large = (
            large.unionByName(
                large.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        sym_large = lazy_materialize(sym_large, reliable_checkpoint)
        # small-star: (v, m(u)) for each neighbor v <= u, plus (u, m(u))
        smin = nbhd_min(sym_large)
        small = (
            sym_large.join(smin, "src")
            .filter(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("node"), F.col("m").alias("lbl"))
            .unionByName(smin.select(F.col("src").alias("node"), F.col("m").alias("lbl")))
        )
        nxt = (
            small.filter(F.col("node") != F.col("lbl"))
            .select(F.col("node").alias("src"), F.col("lbl").alias("dst"))
        )
        sym_nxt = (
            nxt.unionByName(
                nxt.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct()
        )
        sym_nxt = lazy_materialize(sym_nxt, reliable_checkpoint)
        # converged when the (distinct, symmetric) edge set is unchanged
        if (
            sym_nxt.count() == cur.count()
            and sym_nxt.join(cur, ["src", "dst"], "left_anti").isEmpty()
        ):
            cur = sym_nxt
            stable = True
            break
        cur = sym_nxt
    if not stable:
        raise RuntimeError(
            f"_star_components did not stabilize in {max_rounds} rounds"
        )
    # a stable alternating-star edge set is a star forest: every non-root
    # node has exactly one neighbor below it (the component min). Assert it
    # rather than assume it.
    stars = cur.filter(F.col("src") > F.col("dst"))
    bad = (
        stars.groupBy("src")
        .agg(F.count_distinct("dst").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if bad:
        raise RuntimeError(f"_star_components: {bad} nodes with multiple roots")
    roots = stars.select(F.col("dst").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return stars.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
    ).unionByName(roots)


def shingle_hash_set(text_col: str, shingle_k: int = 3) -> Column:
    """Distinct 48-bit md5-derived shingle hashes (the h1 of the KM
    family): the compact shingle-set representation persisted in the
    corpus index. Jaccard over these sets equals raw-shingle Jaccard up to
    48-bit collisions (~|set|²/2^48 — vanishing) and is exactly
    reproducible by any engine with md5."""
    return F.array_distinct(
        F.transform(
            shingles(text_col, shingle_k),
            lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
        )
    )


def minhash_corpus_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """The persisted per-doc near-dup index: (doc_id, bands, shset) where
    ``bands`` are the B LSH band keys and ``shset`` the hashed shingle
    set. ~100s of bytes per doc regardless of document size — the compact
    state an append-mode corpus keeps so near-dup checks NEVER re-read
    corpus text. At 100TB, write it partitioned/bucketed by band keys so
    an incoming batch's probe join is co-located."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        minhash_band_keys(text_col, num_hashes, bands, shingle_k).alias("bands"),
        shingle_hash_set(text_col, shingle_k).alias("shset"),
    )


def incremental_minhash_pairs(
    index: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 2000,
    materialize_index: bool = True,
) -> DataFrame:
    """Near-dup pairs TOUCHING an incoming batch (id_a < id_b, jaccard):
    batch-vs-corpus via the persisted band-key ``index`` plus in-batch
    pairs — the append-time shape of MinHash dedup. Work is O(batch +
    bucket collisions): the corpus contributes only its index rows (band
    keys + hashed shingle sets); its TEXT is never scanned, tokenized, or
    shuffled. History–history pairs are excluded (they were resolved when
    those docs were ingested).

    Verification jaccard is over the hashed shingle sets (see
    :func:`shingle_hash_set`) for both sides — identical semantics for
    in-batch and batch-vs-corpus pairs, and exactly SQL-reproducible."""
    bx = minhash_corpus_index(batch, id_col, text_col, num_hashes, bands, shingle_k)
    allx = (
        index.select("doc_id", "bands", "shset")
        .withColumn("is_new", F.lit(0))
        .unionByName(bx.withColumn("is_new", F.lit(1)))
    )
    # `allx` feeds the band-key explode AND both shingle-set attach
    # joins: composed lazily, the index construction — the 64-hash
    # MinHash fold plus the shingle-set build, the operator's dominant
    # CPU — executed once per reference (r14 plan audit of
    # doc_incremental_near_dup: documents scanned 8x). The frame is the
    # COMPACT index (~100s of bytes per doc by design — the thing a real
    # deployment persists), so one checkpoint is exactly the persisted
    # shape the docstring prescribes. ``materialize_index=False`` keeps
    # the whole operator one lazy Catalyst plan — for callers composing
    # it into a larger plan and for tests that introspect inputFiles()
    # to assert the O(batch) never-rereads-corpus-text property (a
    # checkpointed plan reads an RDD and reports no input files).
    if materialize_index:
        allx = materialize(allx)
    keys = allx.select("doc_id", "is_new", F.explode("bands").alias("bk")).select(
        "doc_id", "is_new", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )
    pairs = bucket_pairs(
        keys, ["band", "bucket"], payload_cols=("is_new",), max_bucket_size=max_bucket_size
    )
    cand = pairs.filter((F.col("a.is_new") == 1) | (F.col("b.is_new") == 1)).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )
    shs = allx.select("doc_id", "shset")
    return (
        cand.join(shs.withColumnsRenamed({"doc_id": "id_a", "shset": "sh_a"}), "id_a")
        .join(shs.withColumnsRenamed({"doc_id": "id_b", "shset": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_dedup(
    index: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Surviving batch rows: a batch doc is dropped when it near-dups the
    indexed corpus, or a smaller-id doc within its own batch (the min-id
    representative rule of :func:`incremental_exact_dedup`; chains resolve
    over successive appends). Returns the batch rows to ingest — append
    them AND their :func:`minhash_corpus_index` rows."""
    pairs = incremental_minhash_pairs(index, batch, id_col, text_col, **kwargs)
    ba = batch.select(F.col(id_col).alias("id_a")).withColumn("a_in", F.lit(True))
    bb = batch.select(F.col(id_col).alias("id_b")).withColumn("b_in", F.lit(True))
    victims = (
        pairs.join(ba, "id_a", "left")
        .join(bb, "id_b", "left")
        .select(
            F.when(
                F.col("a_in").isNotNull() & F.col("b_in").isNull(), F.col("id_a")
            )
            .otherwise(F.col("id_b"))
            .alias(id_col)
        )
        .distinct()
    )
    return batch.join(victims, id_col, "left_anti")


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    star_fallback: bool = True,
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair list -> (doc_id,
    cluster_id), cluster_id = the component's minimum doc id. The dedup
    endgame: pair emitters (MinHash/SimHash/cosine) find edges; keeping
    one representative PER COMPONENT (not per pair) is what actually
    shrinks the corpus when near-dup relations chain (a~b, b~c).

    Min-label propagation: each round every node takes the min label among
    itself and its neighbors; converges in O(component diameter) rounds
    (near-dup components are shallow in practice — exact dups are cliques
    of diameter 1). Each round is ONE shuffle (edge join + min-agg), and
    each round's labels are checkpointed: caching alone does NOT
    truncate lineage, so a deep iteration would grow the logical plan
    every round until planning itself OOMs the driver (observed at ~30
    rounds even on toy data). ``reliable_checkpoint=None`` (default)
    AUTO-SELECTS the checkpoint flavor: reliable HDFS/S3 checkpoints when
    ``sparkContext.setCheckpointDir`` has been called — the only variant
    that survives executor loss, since truncated lineage cannot be
    recomputed — else executor-local localCheckpoint (local/test runs).
    Explicit True/False force either path.

    A component with diameter > ``max_iters`` (a pathological near-dup
    CHAIN — boilerplate drifting one edit at a time) does not converge
    under propagation; with ``star_fallback`` the operator then switches
    to :func:`_star_components` (alternating large-star/small-star,
    O(log² n) rounds independent of diameter) instead of failing the run.
    With ``star_fallback=False`` it raises — never silently-split
    clusters."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # edges are CHECKPOINTED, not merely persisted (r14): persist() keeps
    # the LOGICAL plan, so while cached blocks stop the upstream
    # pair-emission pipeline from re-EXECUTING each round, every round's
    # label plan still embeds (and Catalyst re-optimizes) the entire
    # upstream tree — for a corpus-wide shingle self-join that planning
    # constant dominated the tiny per-round jobs (A/B at sf0.1:
    # doc_dedup_clusters steady-state ~5.1-5.4 s checkpointed vs
    # ~5.6-7.0 s persisted). Truncated lineage also drops the plan-size
    # growth risk for deep iteration counts outright.
    # LAZY on the local path: the first convergence job below writes the
    # blocks while it runs the whole pair pipeline, where the eager form
    # paid a separate checkpoint job. Per-round shuffle widths are left
    # to the session default + AQE coalescing: an experiment sizing them
    # explicitly from the edge count (repartition(parts) per round)
    # measured NO win — the per-round constant is driver-side planning
    # and codegen compilation, which AQE-coalesced 32-task stages don't
    # add to.
    edges = lazy_materialize(
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        reliable_checkpoint,
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # Per-round truncation flavor (r14): on the localCheckpoint path the
    # checkpoint is taken LAZILY — the convergence probe right after it
    # is a full-scan aggregate, so one job both materializes the round's
    # blocks (truncating lineage exactly as the eager form does) and
    # computes the certificate. Eagerly, every round paid TWO driver
    # jobs (checkpoint write + probe); at sf0.1 the 3-round loop's cost
    # was almost entirely this per-round fixed overhead (4.1s for 498
    # edges). The reliable-checkpoint path stays EAGER: a lazy reliable
    # checkpoint recomputes its input a second time for the checkpoint
    # file write, which is the wrong trade on a real cluster.
    labels = lazy_materialize(labels, reliable_checkpoint)

    # Convergence certificate: per-node labels are MONOTONE NON-INCREASING
    # (each round's label is the min over a set containing the old label),
    # so for NUMERIC ids sum(labels) is unchanged iff NO label changed —
    # one exact-decimal aggregate per round instead of a join + count
    # (half the per-round driver jobs; decimal(38,0) is overflow-free at
    # any corpus). Non-numeric (e.g. md5-string) ids have no exact sum:
    # they keep the join+count detector — a hash-sum would be probabilistic
    # and a failed detection silently SPLITS a cluster.
    label_type = dict(labels.dtypes)["label"]
    numeric_ids = label_type in ("tinyint", "smallint", "int", "bigint")

    def label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    def join_count_changed(new: DataFrame, old: DataFrame) -> bool:
        return (
            new.alias("n")
            .join(old.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
            > 0
        )

    prev_sum = label_sum(labels) if numeric_ids else None
    changed = True
    for _ in range(max_iters):
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        new_labels = lazy_materialize(
            labels.unionByName(nbr).groupBy("node").agg(F.min("label").alias("label")),
            reliable_checkpoint,
        )
        if numeric_ids:
            new_sum = label_sum(new_labels)
            changed = new_sum != prev_sum
            prev_sum = new_sum
        else:
            changed = join_count_changed(new_labels, labels)
        labels = new_labels
        if not changed:
            break
    if changed:
        # A component with diameter > max_iters still has a non-minimal
        # label: returning now would split one real duplicate group into
        # several. Degrade to the diameter-independent algorithm (or
        # raise, if the caller opted out of the fallback).
        if star_fallback:
            out = _star_components(edges, reliable_checkpoint=reliable_checkpoint)
            return materialize(
                out.select(F.col("doc_id"), F.col("cluster_id")),
                reliable_checkpoint,
            )
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            "(labels still changing) — raise max_iters or enable "
            "star_fallback (large-star/small-star) for high-diameter graphs"
        )
    # no explicit cleanup: edges/labels are checkpointed, not persist()ed —
    # DataFrame.unpersist() would be a no-op on checkpoint blocks (it only
    # uncaches CacheManager entries; r14 review finding), and the blocks
    # free via GC + ContextCleaner once the frames drop out of scope (the
    # retention contract documented in operators/ckpt.py).
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _bit_mask(b: int) -> int:
    # 1<<63 overflows signed long; the sign bit is its own mask.
    return (1 << b) if b < 63 else -(1 << 63)


_BIT_MASKS = [_bit_mask(b) for b in range(64)]


def _assemble_sign_bits(votes: Column) -> Column:
    """Sign bits of an EVALUATED 64-slot vote array -> one long."""
    out = F.lit(0).cast("long")
    for b in range(64):
        out = out.bitwiseOR(
            F.when(votes[b] > 0, F.lit(_BIT_MASKS[b]).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


# bit b of the 64-bit md5-derived token hash lives in word 0 (low 32 bits)
# or word 1 (high 32 bits) under a POSITIVE 32-bit mask — no sign-bit mask
# anywhere in the vote path, so the SQL oracle needs no negative-shift
# semantics to reproduce it.
_WORD_MASKS = [(0 if b < 32 else 1, 1 << (b % 32)) for b in range(64)]


def _simhash_fold(text_col: str, shingle_k: int, finish) -> Column:
    """Single-pass SimHash vote fold: hash each token once, keep a 64-slot
    ±1 vote accumulator (zip_with against a constant mask array); ``finish``
    maps the evaluated vote array to the final value. The naive
    per-bit-aggregate formulation re-evaluates the tokenization 64×.

    Token hashes are md5-derived (two 32-bit words from hex substrings) —
    one string hash per token, and reproducible in any engine with md5, so
    the whole SimHash near-dup pipeline carries a value-level SQL oracle
    (xxhash64 would be Spark-only)."""
    hashes = F.transform(
        shingles(text_col, shingle_k),
        lambda s: bind_once(
            F.md5(s),
            lambda m: F.struct(
                F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("hi"),
                F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("lo"),
            ),
        ),
    )
    masks = F.array(
        *[
            F.struct(F.lit(w).alias("w"), F.lit(mk).cast("long").alias("m"))
            for w, mk in _WORD_MASKS
        ]
    )

    def merge(acc: Column, h: Column) -> Column:
        return F.zip_with(
            acc,
            masks,
            lambda v, mk: v
            + F.when(
                F.when(mk["w"] == 1, h["hi"]).otherwise(h["lo"]).bitwiseAND(mk["m"])
                != 0,
                1,
            ).otherwise(-1),
        )

    return F.aggregate(hashes, F.array_repeat(F.lit(0).cast("long"), 64), merge, finish)


def simhash(text_col: str, shingle_k: int = 1) -> Column:
    """64-bit SimHash: sign bits of the per-bit ±1 vote sums over token
    hashes, computed in one pass over the token array."""
    return _simhash_fold(text_col, shingle_k, _assemble_sign_bits)


def simhash_chunk_keys(text_col: str, chunks: int, shingle_k: int) -> Column:
    """array of {chunk, val, sig}: the candidate bucket keys AND the full
    signature, all derived inside one finish lambda so the fold runs exactly
    once per row (each struct carries sig so downstream needs no second
    reference to the aggregate)."""
    width = 64 // chunks

    def finish(votes: Column) -> Column:
        sig = _assemble_sign_bits(votes)

        def chunk_val(c: int) -> Column:
            # assemble the chunk's bits straight from the votes (all
            # positive masks) rather than shiftright on the signed sig —
            # identical values, and the SQL oracle reproduces it without
            # engine-specific negative-shift behavior
            out = F.lit(0).cast("long")
            for j in range(width):
                out = out.bitwiseOR(
                    F.when(
                        votes[c * width + j] > 0, F.lit(1 << j).cast("long")
                    ).otherwise(F.lit(0).cast("long"))
                )
            return out

        return F.array(
            *[
                F.struct(
                    F.lit(c).alias("chunk"),
                    chunk_val(c).alias("val"),
                    sig.alias("sig"),
                )
                for c in range(chunks)
            ]
        )

    return _simhash_fold(text_col, shingle_k, finish)


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, chunks: int = 4, shingle_k: int = 1
) -> DataFrame:
    """Near-dup candidates: docs sharing any 16-bit chunk of the SimHash
    (covers all pairs within Hamming distance < chunks)."""
    chunked = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(simhash_chunk_keys(text_col, chunks, shingle_k)).alias("ck"),
    ).select("doc_id", F.col("ck.sig").alias("sig"), "ck.chunk", "ck.val")
    return bucket_pairs(chunked, ["chunk", "val"], payload_cols=("sig",)).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
    )


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, shingle_k: int = 1
) -> DataFrame:
    return simhash_candidates(df, id_col, text_col, shingle_k=shingle_k).filter(
        F.col("hamming") <= max_hamming
    )


# --------------------------------------------------------------------------
# Embedding cosine near-dup (shares LSH machinery with similarity search)
# --------------------------------------------------------------------------


def cosine_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    tables: int = 4,
    dims: int | None = None,
) -> DataFrame:
    """Multi-table random-hyperplane LSH buckets -> exact cosine verify on
    candidates. Hyperplane signs come from the md5-derived ±1 coefficient
    literals in similarity.hyperplane_signature — deterministic, no stored
    model, SQL-replayable (the suite oracle re-derives the same family);
    each of ``tables`` seeds yields an independent hyperplane family (same
    machinery as similarity.lsh_topk).

    Recall for a pair at angle θ is 1-(1-p^planes)^tables with
    p = 1-θ/π: ``tables`` drives recall up, ``planes`` drives candidate
    volume down. Size planes to the threshold — the 0.95-cosine default
    (θ≈18°, p≈0.90) supports planes=16; a LOW threshold like 0.45 (p≈0.65)
    needs planes≈4 or recall collapses (p^16≈1e-3) — at low thresholds LSH
    prunes weakly because most of the sphere is within θ.

    Execution shape: the bucket self-join and the cross-table pair dedup
    run on SKINNY (id, table, bucket) rows — vectors never ride the
    tables× fan-out or the candidate stream. Vectors and once-per-vector
    norms are attached to the deduped pairs by id join (AQE broadcasts the
    vector side when bounded), a native-double dot prescreens (error
    ≤ dims·eps, covered by the 1e-9 margin), and the exact-decimal fold
    runs only on pairs the screen keeps — the same double-prescreen +
    exact-finish discipline as similarity.exact_cosine_pairs."""
    from bbt_etl_dw_spark.operators.similarity import (
        _infer_dims,
        dot_expr,
        fast_dot_expr,
        hyperplane_signature,
        norm_expr,
    )

    if dims is None:
        dims = _infer_dims(df, vec_col)
    v = F.col(vec_col).cast("array<double>")
    fams = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                hyperplane_signature(v, planes, seed=t, dims=dims).alias("bucket"),
            )
            for t in range(tables)
        ]
    )
    sigs = df.select(F.col(id_col).alias("doc_id"), F.explode(fams).alias("s")).select(
        "doc_id", F.col("s.tbl").alias("tbl"), F.col("s.bucket").alias("bucket")
    )
    # the hyperplane signatures (tables x planes dot products per vector —
    # the operator's dominant map CPU) feed BOTH self-join sides: one
    # checkpoint of the skinny (id, tbl, bucket) rows computes them once
    # (r14 plan audit, same class as ngram_jaccard_pairs' shingle index)
    sigs = materialize(sigs)
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        # collide in >=1 table => verify once
        .dropDuplicates()
    )
    # candidate list is LSH-bounded (that is the point): materialize it so
    # the bucket self-join runs once, then semi-join-prune the vector side
    # to candidate members BEFORE attaching vectors — the verify joins
    # below otherwise shuffle the full corpus embeddings twice
    # (jaccard_verify's shape, applied here)
    pairs = materialize(pairs)
    from bbt_etl_dw_spark.operators.guards import assert_broadcastable

    cand_ids = assert_broadcastable(
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("_id")).distinct(),
        label="cosine_near_dups: candidate vec-id set",
        remedy=(
            "the candidate set is corpus-scale — raise planes / lower "
            "tables upstream, or replace the broadcast semi-join with a "
            "shuffle semi-join"
        ),
    )
    normed = df.select(F.col(id_col).alias("_id"), v.alias("_v")).withColumn(
        "_nrm", norm_expr(F.col("_v"))
    )
    normed = materialize(normed.join(F.broadcast(cand_ids), "_id", "left_semi"))
    cand = pairs.join(
        normed.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("va"), F.col("_nrm").alias("na")
        ),
        "id_a",
    ).join(
        normed.select(
            F.col("_id").alias("id_b"), F.col("_v").alias("vb"), F.col("_nrm").alias("nb")
        ),
        "id_b",
    )
    fast_dot = fast_dot_expr(F.col("va"), F.col("vb"))
    return (
        cand.filter(fast_dot / (F.col("na") * F.col("nb")) >= threshold - 1e-9)
        .select(
            "id_a",
            "id_b",
            (dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def prefix_jaccard_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """LOSSLESS candidate pairs for exact Jaccard >= num/den via PREFIX
    FILTERING (the AllPairs/PPJoin family, Chaudhuri et al. / Xiao et
    al.): order every document's shingles rarest-first by GLOBAL document
    frequency and explode only the first ``n - ceil(t*n) + 1`` of them —
    two sets with Jaccard >= t must share at least one token inside both
    prefixes, so no qualifying pair is lost, while the inverted index
    shrinks to the rare end of the vocabulary (the frequent shingles that
    carry all the join skew and ~no signal never fan out at all — the
    principled version of the ``max_shingle_df`` stop-gram cap, with no
    semantic change to the result).

    The threshold is a RATIONAL (num/den): the prefix length must round
    EXACTLY (ceil(t*n) as ``(num*n + den - 1) div den`` in pure integer
    arithmetic) — a float ceil that rounded one short would silently drop
    true pairs. A size-compatibility residual (``den*min(n_a,n_b) >=
    num*max(n_a,n_b)``, also integral) prunes length-incompatible pairs
    inside the join.

    Shuffles: one on the shingle (global df), one doc-keyed window (the
    rarest-first rank), one on the prefix token (the candidate join) —
    each over the PREFIX rows only. Output: (id_a, id_b), distinct.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must satisfy 0 < num/den <= 1")
    sh = df.select(
        F.col(id_col).alias("doc_id"), shingles(text_col, shingle_k).alias("shs")
    ).select("doc_id", F.size("shs").alias("n"), F.explode("shs").alias("sh"))
    # one shingle pass feeds the global-df aggregate AND the rank join
    # (same class as ngram_jaccard_pairs: un-materialized, the corpus
    # scan + the lambda-heavy shingle transform run once per reference)
    sh = materialize(sh)
    gdf = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("gdf"))
    w = Window.partitionBy("doc_id").orderBy("gdf", "sh")
    num, den = int(threshold_num), int(threshold_den)
    # integer ceil-divide: (num*n + den - 1) div den
    req = F.expr(f"({num} * n + {den - 1}) div {den}")
    plen = F.col("n") - req + F.lit(1)
    prefix = (
        sh.join(gdf, "sh")
        .withColumn("_pos", F.row_number().over(w))
        .filter(F.col("_pos") <= plen)
        .select("doc_id", "n", "sh")
    )
    # the prefix index (rarest-first rank join + window) feeds both
    # self-join sides — materialize once
    prefix = materialize(prefix)
    a, b = prefix.alias("a"), prefix.alias("b")
    size_ok = F.lit(den) * F.least(F.col("a.n"), F.col("b.n")) >= F.lit(
        num
    ) * F.greatest(F.col("a.n"), F.col("b.n"))
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """EXACT Jaccard similarity join >= num/den with prefix-filtered
    candidate generation — same results as :func:`ngram_jaccard_pairs`
    at the same threshold (the filter is lossless), but the inverted
    index holds only rarest-first prefixes, which is the formulation
    that survives a skewed 100 TB corpus without a stop-gram cap. The
    verify stage is semi-join-pruned :func:`jaccard_verify` —
    O(candidates), not O(corpus)."""
    cands = prefix_jaccard_candidates(
        df, id_col, text_col, shingle_k, threshold_num, threshold_den
    )
    return jaccard_verify(
        df, cands, id_col, text_col, shingle_k,
        threshold=threshold_num / threshold_den,
    )
