"""Deduplication operators for a crawl corpus: MinHash-LSH, SimHash, n-gram
Jaccard, embedding near-dup.

All candidate generation is shuffle-bounded by design:
  * MinHash-LSH — signatures are narrow (k small ints per doc); the only join
    is the band-bucket self-join, whose fan-out is the candidate set itself;
  * SimHash — banding on 16-bit halves bounds the self-join the same way;
  * n-gram Jaccard — reserved for verifying candidates (quadratic only within
    shared-shingle groups), not for all-pairs.
At 100 TB none of these materialize a doc×doc cross product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawlspark.datapipe.text import hash60, tokens
from crawlspark.session import cut_lazy


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc (the unit for Jaccard/MinHash).

    The token array is bound to a column FIRST: an unbound tokens(text)
    expression inside the transform lambda would re-run the split+filter for
    every shingle position — O(tokens²) string work per document (measured
    ~3× the whole pipeline's cost at sf0.1).

    Round 6: the per-doc dedup is ROW-LOCAL (array_distinct on the gram
    array before the explode) instead of a DataFrame .distinct() — the
    distinct key was (doc_id, shingle), i.e. entirely within one row's
    output, yet the old form paid a full shuffle of every shingle STRING
    plus a two-phase hash aggregate (guide §2.4 "a distinct on data that is
    already unique"; here: unique-per-key-by-construction). Same row set,
    zero exchanges."""
    toksed = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(F.col("_toks")) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(F.col("_toks"), i + 1, n), " "),
    )
    return (
        toksed.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def minhash_signature_arrays(sh: DataFrame, k: int = 16) -> DataFrame:
    """(doc_id, sig array<long>[k]): the k seeded 60-bit hashes are computed
    as k EXPRESSIONS per shingle row and reduced by k min-aggregates in one
    groupBy — no row explosion. (The round-1 version exploded each shingle
    into k rows, inflating the pre-agg map stage k×; at 100 TB that k× lands
    on the shuffle input. md5-derived hashing keeps DuckDB-oracle parity.)"""
    # built as TWO parsed expressions (a struct of k mins + one array over
    # its fields) instead of ~10×k Column API calls — same construction-cost
    # note as simhash_agg; the SQL is the exact hash60/concat_ws expression
    # (concat_ws coerces the seed int to its decimal string either way), so
    # signatures are unchanged (hash-pinned).
    mins_sql = ", ".join(
        f"min(CAST(conv(substring(md5(concat_ws('|', {p}, shingle)), 1, 15), 16, 10)"
        f" AS BIGINT)) AS _m{p}"
        for p in range(k)
    )
    arr_sql = "array(" + ", ".join(f"_ms._m{p}" for p in range(k)) + ")"
    return (
        sh.groupBy("doc_id")
        .agg(F.expr(f"struct({mins_sql})").alias("_ms"))
        .select("doc_id", F.expr(arr_sql).alias("sig"))
    )


def minhash_signatures(sh: DataFrame, k: int = 16) -> DataFrame:
    """(doc_id, perm, minh) rows — the array form exploded AFTER aggregation
    (k small rows per doc, not k× the shingle count)."""
    return minhash_signature_arrays(sh, k).select(
        "doc_id", F.posexplode("sig").alias("perm", "minh")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: banded signature buckets → self-join.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b; est_jaccard =
    fraction of matching minhash permutations. Rows with any shared band
    bucket become candidates (classic r-rows-per-band banding). Signatures
    stay as arrays end-to-end: band keys are md5 over array slices and the
    match fraction is a zip_with — the only shuffles are the one signature
    groupBy and the bucket self-join.
    """
    sig, cand = _lsh_sig_and_candidates(df, text_col, id_col, k, bands, ngram)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (matches / F.lit(k)).alias("est_jaccard"))
    )


def _lsh_sig_and_candidates(
    df: DataFrame, text_col: str, id_col: str, k: int, bands: int, ngram: int
):
    """Shared core of lsh_candidate_pairs / neardup_components: the cut
    signature frame and the distinct banded candidate pairs (round 6 split —
    neardup only consumes the PAIRS, so building est_jaccard there paid two
    join passes over the candidate set that Catalyst cannot prune away)."""
    # cut (session.cut_lazy): the signature frame feeds the band keys AND
    # both sides of the candidate re-join — uncut, the full shingle+hash
    # pipeline would run three times (at 100 TB signatures are narrow: k
    # longs per doc)
    sig = cut_lazy(minhash_signature_arrays(shingles(df, text_col, id_col, ngram), k))
    r = k // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.array_join(
                    F.transform(F.slice("sig", b * r + 1, r), lambda x: x.cast("string")),
                    ",",
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ])
    band_key = sig.select(
        "doc_id", F.explode(band_structs).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = band_key.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = band_key.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return sig, cand


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.8,
    df_max: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard over docs that share ≥1 shingle (the verify stage
    behind LSH candidates — never all-pairs).

    df_max is the document-frequency cap: shingles appearing in more than
    df_max docs are dropped from the universe (intersection AND sizes) before
    the self-join. Without it one stop-phrase shingle shared by 10^6 docs
    makes the shingle-group join quadratic — the standard hot-key guard for
    similarity joins at scale. The DuckDB oracle applies the identical cap.
    """
    # cut both shingle frames (session.cut_lazy): the raw set feeds the
    # df-count and the cap join; the capped set feeds sizes and BOTH
    # self-join sides — uncut, the explode pipeline would run five times.
    # Shingles are HASHED to 60-bit ints immediately after the explode: every
    # downstream shuffle (df-count, cap join, self-join) then moves 8-byte
    # longs instead of ~25-byte trigram strings — the oracle applies the
    # identical hash, so any (astronomically rare) collision affects both
    # engines identically and the contract still pins exactly.
    sh_raw = cut_lazy(
        shingles(df, text_col, id_col, n)
        .select("doc_id", hash60(F.col("shingle")).alias("shingle"))
    )
    rare = sh_raw.groupBy("shingle").agg(F.count("*").alias("_df")).filter(
        F.col("_df") <= df_max
    )
    sh = cut_lazy(sh_raw.join(rare.select("shingle"), "shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # Round 6: each side carries its doc's shingle-set size INTO the
    # self-join, so the Jaccard threshold applies immediately after the
    # pair aggregate. The previous shape re-joined `sizes` onto the pair
    # table TWICE — at sf1.0 that pair table is 67M rows (measured), so the
    # two joins were full passes over the fattest intermediate in the whole
    # bench (guide §8: attach the small decision inputs to the rows BEFORE
    # the heavy fan-out, don't re-join them after). sz is functionally
    # determined by doc_id, so grouping by (doc, sz) pairs is the identical
    # grouping and the output is unchanged.
    shz = sh.join(sizes, "doc_id")
    a = shz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "shingle")
    b = shz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_agg(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 48
) -> DataFrame:
    """n-bit SimHash with NO bit-row explosion: per-token hash once, then
    n_bits conditional-sum aggregates in ONE groupBy (the same k-aggregates
    trick as minhash_signature_arrays). The superseded round-1 plan exploded
    each token into n_bits bit-rows — constant-factor but real map-stage
    inflation at 100 TB (deleted round 3; this aggregate form now serves the
    16-bit contract query too). Here the shuffle input is one row per token
    and the partial agg carries n_bits counters.
    n_bits ≤ 60 (hash60 provides 60 usable bits; bit i
    must also fit a signed long, so n_bits ≤ 60 keeps 1<<i exact)."""
    if not 1 <= n_bits <= 60:
        raise ValueError("n_bits must be in [1, 60] (hash60 is 60-bit)")
    # NOTE: a zero-shuffle alternative (per-doc array + n_bits filter-counts)
    # was measured 1.8× SLOWER at sf0.1 — Catalyst higher-order-function
    # lambdas are interpreted per element, while this explode feeds
    # whole-stage-codegen'd hash aggregates; the shuffle it pays is one
    # 48-counter row per doc (partial agg), which is noise at any scale.
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", hash60(F.col("tok")))
    # The n_bits vote aggregates and the bit reconstruction are built as TWO
    # parsed expressions instead of ~9×n_bits Column API calls (round 6):
    # plan CONSTRUCTION is part of every query's latency, and the per-call
    # py4j round-trips of the listcomp form measured 0.8-1.1 s per build at
    # n_bits=48 — versus one struct-of-sums parse and one CASE-sum parse.
    # The expressions are identical ((h >> i) & 1 == shiftright(h,i) & 1 for
    # longs; same CASE arms, same casts), so the aggregate values and the
    # reconstructed hash are unchanged (hash-pinned vs the oracle).
    votes_sql = ", ".join(
        f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END) AS _b{i}"
        for i in range(n_bits)
    )
    agg = tok.groupBy("doc_id").agg(F.expr(f"struct({votes_sql})").alias("_bs"))
    total_sql = " + ".join(
        f"(CASE WHEN _bs._b{i} > 0 THEN CAST({1 << i} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(n_bits)
    )
    return agg.select("doc_id", F.expr(total_sql).alias("simhash"))


def simhash_band_pairs(
    sig: DataFrame, n_bits: int = 48, n_bands: int = 4, max_dist: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance via banded self-join.

    Splitting the n-bit hash into n_bands equal chunks bounds the join:
    two hashes within Hamming distance d share at least one EXACT band
    whenever d < n_bands (pigeonhole). max_dist must be < n_bands or recall
    silently drops — enforced here (the same guard as phash_hamming_pairs).
    Input: (doc_id, simhash). Output: (doc_a, doc_b, hamming), doc_a < doc_b.
    """
    if max_dist >= n_bands:
        raise ValueError(
            f"max_dist={max_dist} breaks the pigeonhole guarantee of "
            f"{n_bands}-band LSH (requires max_dist < {n_bands})"
        )
    if n_bits % n_bands:
        raise ValueError("n_bits must divide evenly into n_bands")
    r = n_bits // n_bands
    mask = (1 << r) - 1
    bq = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), b * r)
                    .bitwiseAND(F.lit(mask))
                    .alias("chunk"),
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))
    a = bq.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "band", "chunk")
    b = bq.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "band", "chunk")
    # Round 6: the Hamming filter runs BEFORE the cross-band dedup. hamming
    # is a row-local function of (ha, hb), and a doc has exactly one simhash,
    # so distinct(doc_a, doc_b, ha, hb) ≡ distinct(doc_a, doc_b) — the old
    # order shuffled the band join's ENTIRE candidate fan-out through the
    # distinct (80.2M rows at sf1.0, one hot 12-bit chunk alone holding
    # 5 654 docs → 16M pairs) and only then dropped the far pairs. Filtering
    # first costs one bit_count per joined row and shrinks the distinct's
    # exchange to the near-dup survivors. Identical output (hash-verified).
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_dist)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph by min-label
    propagation: every node repeatedly adopts min(own label, neighbors'
    labels) until fixpoint. Returns (id, component) for every node that
    appears in a pair; component = smallest node id reachable.

    Scale notes: each round is a neighbor-min join PLUS a pointer-jumping
    (path-halving) join — comp := comp[comp] — so convergence is O(log
    diameter) rounds, not O(diameter): a 10^6-long chain resolves in ~20
    rounds instead of 10^6. Near-dup graphs are star/clique-shaped and
    finish in 2-3 rounds regardless. Per round: two shuffle joins, one
    partial agg, one LIMIT-1 convergence probe as the only driver action.
    """
    # Round 6: both directions AND per-node self-loops come from ONE
    # evaluation of `pairs` (a row-local explode) — the previous
    # union-of-two-selects form contained the full candidate-pair plan twice,
    # so the LSH band join executed once per direction. The self-loop (a,a)
    # rows fold the "own label" term into the neighbor-min aggregate below:
    # min over N(a) ∪ {a} == least(own, min over N(a)), which removes one
    # whole join from every iteration (guide §2.4 remove shuffles outright).
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    both = e.select(
        F.explode(
            F.array(
                F.struct(F.col("a"), F.col("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                F.struct(F.col("a"), F.col("a").alias("b")),
                F.struct(F.col("b").alias("a"), F.col("b")),
            )
        ).alias("_e")
    ).select("_e.a", "_e.b")
    edges = cut_lazy(both.distinct())
    # Small-graph short-circuit (round 6, guide §1.2: the distributed
    # algorithm first). The near-dup GRAPH is orders of magnitude smaller
    # than the corpus (only banded near-collisions become edges), and each
    # distributed round below costs two joins + an eager checkpoint + a
    # probe action of pure plan-compile/scheduling latency (~0.5 s/round
    # measured at sf0.1 over an 869-node graph). Under `driver_max_edges`
    # (2M edge rows ≈ 32 MB — far below driver limits; measured A/B at a
    # 1.25M-edge 50k-node graph: driver 2.2-3.6 s vs distributed 6.5-8.7 s,
    # full outputs identical) the component solve
    # is a driver-side union-find over the SAME deduped self-looped edge
    # set: union-by-min + path compression keeps every root the minimum of
    # its set, which is exactly the distributed loop's min-label fixpoint,
    # so the output is bit-identical (oracle- and test-pinned). Past the
    # envelope the iterative O(log d) loop below is the authority — the
    # decision is one count over the already-cut edges frame, the
    # same scale-adaptive shape as AQE's broadcast decision and _tp's
    # split-size guard. The count stops at the envelope, so a huge graph
    # is not counted in full. At 10^10 docs a pathological edge set stays
    # distributed; a typical one (dedup clusters are tiny) still fits.
    n_edges = edges.limit(driver_max_edges + 1).count()
    if n_edges <= driver_max_edges:
        # A null id never matches the distributed loop's `b == id` join: it
        # passes no label on, and its own row takes the min over its
        # non-null neighbours' labels. So rows with a null `b` change
        # nothing, and the null node is solved after the others. `a` is
        # coalesced to `b` so the column has no nulls and Arrow keeps the id
        # type (a nullable int64 column would come back as float64).
        pdf = edges.filter(F.col("b").isNotNull()).select(
            F.col("a").isNull().alias("a_null"), F.coalesce("a", "b").alias("a"), "b"
        ).toPandas()  # Arrow path (session default)
        null_nbrs = pdf["b"][pdf["a_null"]]
        pdf = pdf[~pdf["a_null"]]
        a_type = edges.schema["a"].dataType
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["a"], pdf["b"]):
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # larger root under smaller: root == min(set)
        nodes = pdf["a"].drop_duplicates()  # self-loops put every node in `a`
        out = pd.DataFrame({"id": nodes, "comp": [find(n) for n in nodes]})
        if len(null_nbrs):
            null_row = {"id": [None], "comp": [min(find(b) for b in null_nbrs)]}
            out = pd.concat([out.astype(object), pd.DataFrame(null_row, dtype=object)])
        spark = pairs.sparkSession
        from pyspark.sql.types import StructField, StructType

        # nullable=True matches the distributed loop's output schema exactly
        schema = StructType(
            [StructField("id", a_type, True), StructField("comp", a_type, True)]
        )
        return spark.createDataFrame(out, schema=schema)
    # each round MUST truncate lineage (localCheckpoint is eager): an
    # iterative join chain otherwise re-derives round k from rounds 1..k-1
    # every action — the classic exponential-recompute pitfall. On a real
    # cluster with preemptible executors, swap in reliable checkpoint()
    # against the job's checkpoint dir; semantics are identical.
    labels = (
        edges.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iter):
        # min over N(a) ∪ {a} in ONE join+aggregate (the self-loop rows make
        # the neighbor min include a's own label, and the `b == a` row also
        # recovers the previous label for the convergence check) — the
        # pre-r6 form needed a second `stepped` left-join to mix the own
        # label back in.
        stepped = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy("a")
            .agg(
                F.min("comp").alias("comp"),
                F.min(F.when(F.col("b") == F.col("a"), F.col("comp"))).alias("_old"),
            )
            .select(F.col("a").alias("id"), "comp", "_old")
        )
        # pointer jumping (path halving): comp := comp's own comp. Labels
        # always point at graph nodes, so the self-join is total; this is
        # what upgrades O(diameter) propagation to O(log diameter).
        par = labels.select(F.col("id").alias("_pid"), F.col("comp").alias("_pcomp"))
        merged = (
            stepped.join(par, stepped["comp"] == par["_pid"], "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("_pcomp", "comp")).alias("comp"),
                "_old",
            )
        ).localCheckpoint()
        changed = merged.filter(F.col("comp") != F.col("_old")).limit(1).count()
        labels = merged.select("id", "comp")
        if changed == 0:
            break
    return labels


def neardup_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """The full dedup-cluster pipeline: MinHash-LSH candidates → connected
    components → canonical doc per cluster. Returns one row per document:
    (doc_id, component, is_canonical); singleton docs are their own
    component. A 100-TB pipeline keeps rows where is_canonical.

    Round 6: consumes the banded CANDIDATE pairs directly — the graph only
    needs (doc_a, doc_b), and the est_jaccard scoring joins
    lsh_candidate_pairs adds are inner joins Catalyst cannot prune away, so
    building them here paid two pointless passes over the candidate set."""
    _sig, pairs = _lsh_sig_and_candidates(df, text_col, id_col, k, bands, ngram)
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("component"),
        )
        .withColumn("is_canonical", F.col("component") == F.col("doc_id"))
    )


def embedding_neardup_bucketed(
    emb: DataFrame,
    threshold: float = 0.9,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_bits: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above `threshold` — the bucketed scale
    path (round 4; the contract query binds HERE, replacing the all-pairs
    crossJoin of embedding_neardup_pairs, which survives as the test-only
    recall oracle).

    Plan: each vector gets an n_bits sign-bit LSH signature (matmul kernel,
    similarity.lsh_signature_np); the A side explodes to its home bucket plus
    every probe bucket within Hamming distance `probe_bits` of home, the B
    side stays at home, and the equi-join on bucket bounds candidates to
    near-collision pairs — shuffle is O(corpus · Σ C(n_bits,i)), never
    O(corpus²), and no CartesianProduct / BroadcastNestedLoopJoin appears in
    the plan (pinned by tests/test_plan_shapes.py). Exact cosine inside
    candidates is one numpy einsum per Arrow batch, not interpreted HOF
    lambdas; the threshold compares the 6-dp-ROUNDED cosine so both engines
    agree at the boundary. The probe set (all distinct XOR masks of home) is
    pairwise distinct, so each qualifying pair is produced exactly once — no
    dedup pass needed. DuckDB twin:
    __spark_entry__.oracle_sql()['embedding_neardup'].

    Recall (round 5): per-bit sign-LSH collision for a pair at angle θ is
    p = 1 − θ/π, so candidate recall is P[Hamming(sig_a, sig_b) ≤ probe_bits]
    = Σ_{i≤probe_bits} C(n_bits,i)·p^(n_bits−i)·(1−p)^i. At the cosine-0.9
    contract regime (θ ≈ 25.8°, p ≈ 0.856, n_bits=6) the round-4 1-bit probe
    set's expected recall was ≈ 0.79; widening to 2-bit probes (22 buckets/
    row) lifts it to ≈ 0.96 expected. Measured on the seeded hardest-band
    world (60 planted pairs at cosine 0.9005–0.910): 0.983 with probe_bits=2
    vs 0.817 with the old probe_bits=1; the floor test pins recall ≥ 0.9
    against the crossJoin oracle at threshold 0.9
    (tests/test_datapipe_new.py::test_embedding_neardup_recall_floor_at_090).
    probe_bits is the recall/shuffle dial: 0 = home only, 1 = round-4
    behavior, 2 = default. At 10^10 scale raise n_bits with log₂(corpus) to
    keep bucket occupancy bounded and hold probe_bits at 2 — explode factor
    1 + n_bits + C(n_bits,2) stays a constant per-row multiplier while the
    join stays equi-key and skew-safe.
    """
    from crawlspark.datapipe.similarity import lsh_signature_np

    sig = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_signature_np(n_bits, dim)(F.col(vec_col)).alias("bucket"),
    )
    masks = [0]
    if probe_bits >= 1:
        masks += [1 << i for i in range(n_bits)]
    if probe_bits >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(n_bits) for j in range(i + 1, n_bits)
        ]
    if probe_bits > 2:
        raise ValueError("probe_bits > 2 not supported (raise n_bits instead)")
    probes = F.array(
        *[F.col("bucket").bitwiseXOR(F.lit(m).cast("long")) for m in masks]
    )
    a = sig.select(
        F.col("id").alias("vec_a"),
        F.col("v").alias("va"),
        F.explode(probes).alias("bucket"),
    )
    b = sig.select(F.col("id").alias("vec_b"), F.col("v").alias("vb"), "bucket")
    cand = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in va.to_numpy()])
        y = np.stack([np.asarray(v, dtype=np.float64) for v in vb.to_numpy()])
        num = np.einsum("ij,ij->i", x, y)
        den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
        out = np.divide(num, den, out=np.zeros_like(num), where=den > 0)
        return pd.Series(np.round(out, 6))

    return (
        cand.withColumn("cosine", _cos(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.95, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Embedding-cosine near-dup pairs above `threshold` — the ALL-PAIRS
    oracle baseline (test-only since round 4: the contract query binds the
    bucketed plan, embedding_neardup_bucketed; this crossJoin exists to
    measure that plan's recall on small worlds, never to run at scale).
    """
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x))
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), norm.alias("n"))
    a = v.select(F.col("id").alias("vec_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = v.select(F.col("id").alias("vec_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y), F.lit(0.0), lambda a_, x: a_ + x
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )
