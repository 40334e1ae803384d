"""Document deduplication operators (training-data pipeline ops).

Four tiers, cheapest-first — the standard dedup ladder for corpus prep:

  exact_dedup          md5(text) hash-groupBy — one shuffle on the hash
  ngram_jaccard_pairs  exact pairwise Jaccard over char n-gram shingles —
                       the small-N oracle; O(candidate pairs)
  minhash_lsh          MinHash signatures + banded LSH — the scale path:
                       O(n·bands) shuffle instead of O(n²) compare
  simhash              16-bit SimHash + banded buckets — constant-size
                       signature per doc, Hamming-style candidates

All expressions are JVM-native (md5/conv/substring/explode); NO
higher-order-function lambdas anywhere (stacked transform lambdas
miscompile under projection collapse — see operators/fingerprint.py) and
no Python on the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "exact_dedup",
    "char_shingles",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "band_pairs",
    "simhash",
    "simhash_candidates",
    "neardup_components",
    "neardup_dedup",
    "edit_distance_pairs",
    "prefix_jaccard_pairs",
    "source_overlap",
]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per identical text; report copies."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_" + id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def char_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 12
) -> DataFrame:
    """Distinct char n-gram shingles per document — explode over positions
    (no lambdas; whole-stage codegen keeps this one projection + explode)."""
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))
    ).alias("pos")
    return (
        df.select(F.col(id_col), F.col(text_col), pos)
        .select(F.col(id_col), F.col(text_col).substr(F.col("pos"), F.lit(n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 12,
) -> DataFrame:
    """Pairwise Jaccard over shingle sets via an inverted-index self-join.

    Candidate generation is the shingle join (docs sharing ≥1 shingle);
    at corpus scale run minhash_lsh_candidates first and feed only the
    candidate pairs here.
    """
    sh = char_shingles(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col(f"a.shingle") == F.col(f"b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    j = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.round(j, 4))
        .filter(j >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 12,
) -> DataFrame:
    """k MinHash values per doc: min over md5(seed || shingle) — the md5
    family is engine-portable and needs no seed tables."""
    sh = char_shingles(df, text_col, id_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"h{s}")
        for s in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 12,
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing any LSH band bucket. All
    band keys come from one projection over the signatures
    (``band_pairs`` does the join). Feed the output to
    ngram_jaccard_pairs (restricted to candidates) for exact verification.
    """
    sig = minhash_signatures(df, n_hashes, text_col, id_col, n)
    keys = [
        F.concat(F.lit(f"b{bnd}#"), *[F.col(f"h{bnd * band_size + j}") for j in range(band_size)])
        for bnd in range(n_hashes // band_size)
    ]
    return band_pairs(sig.select(id_col, F.explode(F.array(*keys)).alias("band")), id_col)


def band_pairs(bands: DataFrame, id_col: str, keys: tuple[str, ...] = ("band",)) -> DataFrame:
    """LSH candidate pairs from (id, band key) rows: every two ids that
    share a key, as (id_a, id_b) with id_a < id_b, once each. The equi-join
    on the key is the only shuffle over pairs, so its size is the true
    collision count, never n². The one band self-join behind the MinHash,
    SimHash and embedding near-dup candidates."""
    on = list(keys)
    return (
        bands.select(F.col(id_col).alias("id_a"), *on)
        .join(bands.select(F.col(id_col).alias("id_b"), *on), on)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(
    df: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """bits-bit SimHash over whitespace tokens.

    Each hex nibble of md5(token) contributes one signature bit (parity);
    per-doc majority vote per bit. All conv/substring expressions — one
    explode + one groupBy.
    """
    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).withColumn("h", F.md5(F.col("w")))
    votes = [
        F.sum(
            (F.conv(F.substring("h", b + 1, 1), 16, 10).cast("int") % 2) * 2 - 1
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    bit_cols = [F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0")) for b in range(bits)]
    return agg.select(F.col(id_col), F.concat(*bit_cols).alias("simhash"))


def simhash_candidates(
    df: DataFrame, bits: int = 16, band_bits: int = 4,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any band of the SimHash
    (Hamming-ball LSH: a pair within distance (bits/band_bits - 1) shares
    ≥1 exact band by pigeonhole)."""
    sig = simhash(df, bits, text_col, id_col)
    keys = [
        F.concat(F.lit(f"b{bnd}#"), F.substring("simhash", bnd * band_bits + 1, band_bits))
        for bnd in range(bits // band_bits)
    ]
    return band_pairs(sig.select(id_col, F.explode(F.array(*keys)).alias("band")), id_col)


def neardup_components(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    driver_max_rows: int = 400_000,
) -> DataFrame:
    """Candidate pairs → (doc, cluster_id) connected-component mapping,
    labeled by the component's min doc id. Near-dup pairs are NOT
    transitive one-by-one (a~b, b~c does not test a~c), but dedup policy
    treats the component as one duplicate group — the standard corpus
    rule — so the pair graph must be closed transitively.

    Reuses the size-adaptive component engine behind template
    clustering (`fingerprint.components_from_bands`): both ends of a pair
    join the "band" keyed by its smaller end. That end is a member of its
    own band, so every band is connected and the components are those of
    the pair graph, for ids of any type. A bounded pair set resolves
    driver-side via union-find and a corpus-scale one runs distributed
    min-label propagation, with a path-equivalence guarantee. Only docs
    that appear in ≥1 pair are in the mapping.
    """
    from .fingerprint import components_from_bands

    l, r = F.col(left_col), F.col(right_col)
    bands = pairs.select(
        F.explode(F.array(l, r)).alias("fingerprint"), F.least(l, r).alias("band")
    )
    return components_from_bands(bands, driver_max_rows)


def neardup_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    left_col: str = "id_a",
    right_col: str = "id_b",
) -> DataFrame:
    """The actual deduplicate step: docs + candidate pairs →
    + cluster_id (own id when unpaired) + is_canonical (keep rule: the
    min doc id of each near-dup component survives). Filter on
    is_canonical for the kept corpus; keep the full frame for audit.

    Scale shape: the mapping is pair-graph-sized (≪ corpus) and joins
    broadcast below the driver bound; the docs side never shuffles.
    """
    comp = neardup_components(pairs, left_col, right_col).withColumnRenamed(
        "fingerprint", id_col
    )
    return (
        docs.join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
        .withColumn("is_canonical", F.col("cluster_id") == F.col(id_col))
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    id_col: str | None = None,
    max_dist: int = 1,
) -> DataFrame:
    """All DISTINCT string pairs within Levenshtein distance 1 —
    SymSpell-style deletion-neighborhood blocking instead of all-pairs.

    Two strings are within edit distance 1 iff they share a member of
    their deletion neighborhoods {s} ∪ {s minus one char}: equality
    (d=0, excluded here), del(a)=b (insertion/deletion), or
    del(a)=del(b) at the right position (substitution). So:

      1. explode each string to its ≤ len+1 neighborhood variants
         (built with built-in ``transform``/``sequence`` — JVM-side, no
         Python);
      2. self equi-join on the variant — the blocking step: candidates
         are strings sharing any variant, O(Σ len) join keys, never the
         O(n²) cross product;
      3. the deletion-share test overshoots — deletions at DIFFERENT
         positions can coincide on strings at distance 2 (e.g. "xab"
         and "abx" share the variant "ab" but d=2) — so candidates are
         VERIFIED with the built-in ``levenshtein`` before emission.

    Output: (a, b) with a < b lexicographically, plus ids when
    ``id_col`` is given. At corpus scale the join shuffles on the
    variant string; hot variants (very common short words) behave like
    any skewed equi-join — AQE's skew-join splitting applies.

    Only ``max_dist=1`` is supported: the deletion-neighborhood
    guarantee "d(a,b)<=1 ⇒ neighborhoods intersect" is specific to one
    deletion; deeper distances need the full SymSpell recursive delete
    sets.
    """
    if max_dist != 1:
        raise ValueError("only max_dist=1 is supported (single-deletion blocking)")
    keep = [col] + ([id_col] if id_col else [])
    base = df.select(*keep).dropDuplicates([col])
    # deletion position 0 = the string itself, i>=1 = drop char i; plain
    # explode + substring expressions (no higher-order-function lambdas —
    # see BENCH.md on HOF capture under projection collapse)
    variants = base.withColumn(
        "__i", F.explode(F.sequence(F.lit(0), F.length(col)))
    ).withColumn(
        "__v",
        F.when(F.col("__i") == 0, F.col(col)).otherwise(
            F.concat(
                F.substring(F.col(col), F.lit(1), F.col("__i") - 1),
                F.substring(F.col(col), F.col("__i") + 1, F.length(col)),
            )
        ),
    ).drop("__i")
    right = variants.select(
        F.col("__v"),
        F.col(col).alias("b"),
        *([F.col(id_col).alias(f"{id_col}_b")] if id_col else []),
    )
    left = variants.select(
        F.col("__v"),
        F.col(col).alias("a"),
        *([F.col(id_col).alias(f"{id_col}_a")] if id_col else []),
    )
    out_cols = ["a", "b"] + (
        [f"{id_col}_a", f"{id_col}_b"] if id_col else []
    )
    return (
        left.join(right, "__v")
        .filter(F.col("a") < F.col("b"))
        .select(*out_cols)
        .dropDuplicates(["a", "b"])
        .filter(F.levenshtein("a", "b") <= max_dist)
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau_num: int = 3,
    tau_den: int = 10,
) -> DataFrame:
    """EXACT word-level Jaccard >= tau_num/tau_den pairs via prefix
    filtering (PPJoin-style; Chaudhuri/Ganti/Kaushik SSJoin 2006,
    Xiao et al. PPJoin 2008) — the inverted-index counterpart to the
    probabilistic MinHash ladder: same scale shape (token equi-join,
    never the O(n^2) cross product), but NO false negatives.

    Filter soundness: sort every doc's token set by one global order
    (ascending global frequency, token text as tiebreak — rarest
    first, so prefixes index the least common tokens). With prefix
    length p(x) = |x| - ceil(tau*|x|) + 1, any pair with J >= tau
    shares a token inside BOTH prefixes: J >= tau implies the overlap
    o = |x n y| >= ceil(tau*|x|) (union contains x), so the first
    common token in global order has at least o - 1 >= ceil(tau*|x|)-1
    common tokens after it in x's sorted list, placing it at position
    <= |x| - ceil(tau*|x|) + 1 = p(x); symmetrically for y. The
    prefix equi-join therefore yields a candidate superset, and the
    exact intersection/union verification keeps only true pairs.

    Plan shape: token-frequency join (shuffle on token), per-doc
    row_number window (partition by doc — scales), prefix self
    equi-join on token (hot common tokens never enter prefixes by the
    rarest-first order, which is also the skew defense), then a
    verification join against the collected per-doc sorted token
    arrays. Every emitted number is an integer — intersection and
    union sizes — so the threshold test tau_den*inter >= tau_num*union
    is exact in any engine.
    """
    toks = (
        df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__tf"))
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    # prefix length: sz - ceil(tau*sz) + 1, integer ceil via div (never
    # double division — a float quotient rounding up across an integer
    # boundary would silently shorten a prefix)
    p_len = F.expr(f"__sz - ((__sz * {tau_num} + {tau_den - 1}) div {tau_den}) + 1")
    w = Window.partitionBy(id_col).orderBy("__tf", "token")
    prefix = (
        toks.join(freq, "token")
        .join(sizes, id_col)
        .select(id_col, "token", F.row_number().over(w).alias("__pos"), "__sz")
        .where(F.col("__pos") <= p_len)
    )
    cand = (
        prefix.select(F.col(id_col).alias("a"), "token")
        .join(prefix.select(F.col(id_col).alias("b"), "token"), "token")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    docsets = toks.groupBy(id_col).agg(
        F.sort_array(F.collect_list("token")).alias("__set"),
        F.count(F.lit(1)).alias("__sz"),
    )
    a_side = docsets.select(
        F.col(id_col).alias("a"), F.col("__set").alias("__sa"), F.col("__sz").alias("__na")
    )
    b_side = docsets.select(
        F.col(id_col).alias("b"), F.col("__set").alias("__sb"), F.col("__sz").alias("__nb")
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("long")
    return (
        cand.join(a_side, "a")
        .join(b_side, "b")
        .select(
            "a",
            "b",
            inter.alias("inter_size"),
            (F.col("__na") + F.col("__nb") - inter).cast("long").alias("union_size"),
        )
        .where(F.lit(tau_den) * F.col("inter_size") >= F.lit(tau_num) * F.col("union_size"))
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 12,
) -> DataFrame:
    """Corpus-overlap matrix: exact char-shingle Jaccard between every
    pair of SOURCES (not documents) — the data-governance view behind
    "how much of source A is already in source B" licensing/dedup
    decisions. Distinct (source, shingle) pairs aggregate the corpus
    down to vocabulary size FIRST; the pairwise intersection then runs
    on shingle-grouped source lists, never on documents — so the
    expensive join is over (shingle, source-pair) rows, bounded by
    vocab x sources², with the corpus itself scanned once.

    Emits exact integers (inter/union shingle counts) per unordered
    source pair (a < b).
    """
    shingle_pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))
    ).alias("pos")
    toks = (
        df.select(F.col(source_col).alias("src"), F.col(text_col), shingle_pos)
        .select("src", F.col(text_col).substr(F.col("pos"), F.lit(n)).alias("sh"))
        .distinct()
    )
    sizes = toks.groupBy("src").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        toks.select(F.col("src").alias("a"), "sh")
        .join(toks.select(F.col("src").alias("b"), "sh"), "sh")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sa = sizes.select(F.col("src").alias("a"), F.col("sz").alias("__na"))
    sb = sizes.select(F.col("src").alias("b"), F.col("sz").alias("__nb"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            "inter_size",
            (F.col("__na") + F.col("__nb") - F.col("inter_size")).alias("union_size"),
        )
    )
