"""Training-data curation registrations: deterministic sampling, sequence
packing, embedding quantization — the storage/split/shard operators a
100 TB pretraining pipeline runs after dedup/quality filtering.

All three are fully oracle-checked: the sampling hash is the
engine-portable md5-60-bit hash, packing is a window cumsum, and
quantization rounds via floor(x+0.5) — every step chosen to be
bit-reproducible across engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..operators import packing as PK
from ..operators import sampling as S
from ..operators.embeddings import absmax_scale, quantize_int8
from ..registry import query
from ..sources import read_table
from ._duck import hash60

# --- deterministic stratified sampling ------------------------------------

_RATES = {"purchase": 60, "cart": 30}
_DEFAULT_PCT = 10

_SAMPLE_SQL = f"""
WITH hashed AS (
  SELECT event_id, user_id, event_type, value,
         {hash60("CAST(event_id AS VARCHAR)")} % 100 AS bucket
  FROM events
)
SELECT event_id, user_id, event_type,
       CAST(bucket AS BIGINT) AS bucket
FROM hashed
WHERE bucket < CASE event_type
                 WHEN 'purchase' THEN {_RATES["purchase"]}
                 WHEN 'cart' THEN {_RATES["cart"]}
                 ELSE {_DEFAULT_PCT} END
"""


@query("sample_hash_stratified", sql=_SAMPLE_SQL, tags=("sampling", "curation"))
def sample_hash_stratified(spark, sf_dir):
    """Deterministic stratified sampling: keep 60% of rare purchases, 30%
    of carts, 10% of everything else, membership decided ONLY by an
    engine-portable hash of the row key (operators/sampling.py) — the
    split is identical across engines, re-runs, repartitions, and late
    arrivals, unlike seeded-RNG sample().  Map-only, no shuffle."""
    ev = read_table(spark, sf_dir, "events")
    sampled = S.stratified_hash_sample(
        ev, key=F.col("event_id"), stratum=F.col("event_type"),
        rates=_RATES, default_pct=_DEFAULT_PCT,
    )
    return sampled.select(
        "event_id", "user_id", "event_type",
        S.hash_bucket(F.col("event_id")).alias("bucket"),
    )


# --- sequence packing -----------------------------------------------------

_PACK_BUDGET = 2048

_PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM toks
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(start / {_PACK_BUDGET}) AS BIGINT) AS bin_id,
       CAST(start AS BIGINT) AS bin_offset_tokens
FROM packed
"""


@query("pack_token_budget_bins", sql=_PACK_SQL, tags=("packing", "curation"))
def pack_token_budget_bins(spark, sf_dir):
    """LLM context-window packing: documents assigned to {_PACK_BUDGET}-token
    bins per language shard via linear packing (one window cumsum — a
    document starts in the bin where its first token lands;
    operators/packing.py).  One shuffle on the shard key, no global sort;
    the assignment is deterministic so every re-run shards identically."""
    docs = read_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "lang", PK.whitespace_token_count(F.col("text")).alias("n_tokens")
    )
    packed = PK.pack_linear(
        with_tokens, shard_col="lang", order_col="doc_id",
        tokens_col="n_tokens", budget=_PACK_BUDGET,
    )
    return packed.select("doc_id", "lang", "n_tokens", "bin_id", "bin_offset_tokens")


# --- embedding int8 quantization ------------------------------------------

_QUANT_SQL = """
WITH scaled AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS scale,
         embedding
  FROM embeddings
), quantized AS (
  SELECT vec_id, scale,
         list_transform(embedding,
           x -> CAST(CASE WHEN scale = 0 THEN 0
                          ELSE floor(127.0 * CAST(x AS DOUBLE) / scale + 0.5)
                     END AS BIGINT)) AS q
  FROM scaled
)
SELECT vec_id, scale,
       CAST(unnest(range(len(q))) AS BIGINT) AS pos,
       unnest(q) AS code
FROM quantized
"""


@query("embedding_quantize_int8", sql=_QUANT_SQL, tags=("embedding", "curation"))
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding corpus
    (4× storage; operators/embeddings.py) — all higher-order array
    functions, map-only at scan speed.  Rounding is floor(x+0.5) for
    cross-engine determinism; codes are checked element-exact vs DuckDB.
    Output is flattened to (vec_id, scale, pos, code) scalar rows: the
    driver's canonicalizer factorizes column values for order-insensitive
    hashing, and array cells are unhashable there (r5 advice)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id", absmax_scale(F.col("embedding")).alias("scale"), "embedding"
        )
        .select(
            "vec_id",
            "scale",
            F.posexplode(quantize_int8(F.col("embedding"), F.col("scale"))).alias(
                "pos", "code"
            ),
        )
        .select("vec_id", "scale", F.col("pos").cast("bigint").alias("pos"), "code")
    )


# --- z-order clustering ---------------------------------------------------

# Explicit quantization ranges (constants shared by both engines; valid
# for every fixture SF — clamped beyond them).  Events span Jan 2024.
_Z_USER_LO, _Z_USER_HI = 0, 2_048
_Z_TS_LO, _Z_TS_HI = 1_704_067_200, 1_706_745_600  # 2024-01-01 .. 2024-02-01
_Z_BITS = 16


def _duck_quant(expr: str, lo: int, hi: int) -> str:
    return (
        f"CAST(floor((least(greatest({expr}, {lo}), {hi}) - {lo})"
        f" * {(1 << _Z_BITS) - 1} / {hi - lo}) AS BIGINT)"
    )


def _zorder_sql() -> str:
    from ..operators.zorder import duck_zvalue

    qu = _duck_quant("user_id", _Z_USER_LO, _Z_USER_HI)
    qt = _duck_quant(
        "CAST(floor(epoch(ts)) AS BIGINT)", _Z_TS_LO, _Z_TS_HI
    )
    return f"""
    SELECT event_id, {duck_zvalue([qu, qt], _Z_BITS)} AS zval
    FROM events
    """


@query("zorder_code_events", sql=_zorder_sql(), tags=("zorder", "layout"))
def zorder_code_events(spark, sf_dir):
    """Morton z-codes over (user_id, event time) — the clustering key for
    multi-dimensional data skipping (operators/zorder.py; Delta/Iceberg
    OPTIMIZE ZORDER rebuilt on plain parquet).  Pure codegen'd bit
    arithmetic from explicit quantization ranges, so the layout is a
    deterministic function of the row; the skipping benefit (per-file
    bounding boxes shrink in BOTH dimensions) is pinned in
    tests/test_zorder.py."""
    from ..operators.zorder import quantize, zvalue

    ev = read_table(spark, sf_dir, "events")
    qu = quantize(F.col("user_id"), _Z_USER_LO, _Z_USER_HI, _Z_BITS)
    qt = quantize(
        F.unix_timestamp("ts"), _Z_TS_LO, _Z_TS_HI, _Z_BITS
    )
    return ev.select("event_id", zvalue([qu, qt], _Z_BITS).alias("zval"))


# --- SCD2 dimension merge -------------------------------------------------

_SCD_T0, _SCD_T1 = 1_704_067_200, 1_706_745_600  # initial load / update batch

_SCD_SQL = f"""
WITH current AS (
  SELECT c_custkey, c_mktsegment,
         CAST({_SCD_T0} AS BIGINT) AS valid_from_epoch,
         CAST(NULL AS BIGINT) AS valid_to_epoch
  FROM customer
),
upd AS (
  SELECT c_custkey, 'MOBILE' AS new_seg FROM customer WHERE c_custkey % 7 = 0
),
joined AS (
  SELECT c.*, u.new_seg FROM current c LEFT JOIN upd u USING (c_custkey)
)
SELECT c_custkey, c_mktsegment, valid_from_epoch, valid_to_epoch
FROM joined WHERE new_seg IS NULL OR new_seg = c_mktsegment
UNION ALL
SELECT c_custkey, c_mktsegment, valid_from_epoch,
       CAST({_SCD_T1} AS BIGINT) AS valid_to_epoch
FROM joined WHERE new_seg IS NOT NULL AND new_seg != c_mktsegment
UNION ALL
SELECT c_custkey, new_seg AS c_mktsegment,
       CAST({_SCD_T1} AS BIGINT) AS valid_from_epoch,
       CAST(NULL AS BIGINT) AS valid_to_epoch
FROM joined WHERE new_seg IS NOT NULL AND new_seg != c_mktsegment
"""


@query("scd2_customer_segments", sql=_SCD_SQL, tags=("scd", "dimension", "curation"))
def scd2_customer_segments(spark, sf_dir):
    """SCD2 dimension merge (operators/scd.py): the customer dimension is
    loaded as all-open history rows, then an update batch (every 7th
    customer moves to segment 'MOBILE') is applied — changed keys get
    their open row closed and a new open row appended, unchanged keys
    pass through.  One equi-join shuffle + shuffle-free projections; the
    oracle is the equivalent relational CASE-split."""
    from ..operators.scd import scd2_merge

    cust = read_table(spark, sf_dir, "customer")
    current = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit(_SCD_T0).cast("long").alias("valid_from_epoch"),
        F.lit(None).cast("long").alias("valid_to_epoch"),
    )
    updates = cust.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("MOBILE").alias("c_mktsegment")
    )
    return scd2_merge(
        current, updates, key="c_custkey", attr="c_mktsegment",
        effective_epoch=_SCD_T1,
    )


# --- unpivot / melt -------------------------------------------------------

_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, measure, value
FROM (
  SELECT l_orderkey, l_linenumber,
         l_quantity, l_extendedprice, l_discount, l_tax
  FROM lineitem
)
UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
"""


@query("unpivot_lineitem_measures", sql=_UNPIVOT_SQL, tags=("reshape", "unpivot"))
def unpivot_lineitem_measures(spark, sf_dir):
    """Wide→long reshape (melt): the four lineitem measures unpivoted to
    (measure, value) rows — the inverse of pivot_event_counts, map-only
    (each input row expands to 4 output rows in place, no shuffle)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


# --- data-quality audit ---------------------------------------------------

_DQ_SQL = """
SELECT 'events_value_not_null' AS rule,
       count(CASE WHEN value IS NULL THEN 1 END) AS n_violations FROM events
UNION ALL
SELECT 'events_event_id_unique',
       (SELECT count(*) FROM (
          SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1))
UNION ALL
SELECT 'events_type_enum',
       count(CASE WHEN event_type IS NOT NULL
                   AND NOT regexp_full_match(event_type, '[a-z_]+')
             THEN 1 END) FROM events
UNION ALL
SELECT 'lineitem_quantity_range',
       count(CASE WHEN l_quantity IS NOT NULL
                   AND (l_quantity < 1 OR l_quantity > 50) THEN 1 END)
FROM lineitem
UNION ALL
SELECT 'orders_custkey_fk',
       (SELECT count(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
"""


@query("dq_constraint_audit", sql=_DQ_SQL, tags=("quality", "audit", "curation"))
def dq_constraint_audit(spark, sf_dir):
    """Declarative data-quality gate (operators/quality.py): five
    constraint rules — null check, key uniqueness, enum/regex shape,
    numeric range, and referential integrity — each reduced to a
    violation COUNT so the audit output stays driver-sized at any data
    scale.  The fixtures ship real nulls in events.value, so the audit
    exercises a genuinely failing rule alongside passing ones."""
    from ..operators import quality as Q

    ev = read_table(spark, sf_dir, "events")
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return Q.audit([
        # both events predicate rules fused into ONE scan
        Q.predicate_rules(ev, [
            ("events_value_not_null", Q.not_null("value")),
            ("events_type_enum", Q.matches("event_type", "[a-z_]+")),
        ]),
        Q.unique("events_event_id_unique", ev, ["event_id"]),
        Q.predicate_rules(li, [
            ("lineitem_quantity_range", Q.in_range("l_quantity", 1, 50)),
        ]),
        Q.references("orders_custkey_fk", orders, "o_custkey", cust, "c_custkey"),
    ])


# --- document chunking ----------------------------------------------------

_CHUNK_TOKENS, _CHUNK_OVERLAP = 64, 16
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP

_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
sized AS (
  SELECT doc_id, t, len(t) AS n,
         1 + CAST(ceil(greatest(len(t) - {_CHUNK_TOKENS}, 0)
                       / {_CHUNK_STRIDE}) AS INT) AS n_chunks
  FROM toks
)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       CAST(chunk_id * {_CHUNK_STRIDE} AS BIGINT) AS chunk_start_token,
       array_to_string(t[chunk_id * {_CHUNK_STRIDE} + 1 :
                         chunk_id * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}], ' ')
         AS chunk_text,
       least({_CHUNK_TOKENS}, n - chunk_id * {_CHUNK_STRIDE})::BIGINT
         AS chunk_n_tokens
-- chunk-id list derived per row from n_chunks (no fixed 10k cap — r5 advice)
FROM (SELECT doc_id, t, n, unnest(range(0, n_chunks)) AS chunk_id FROM sized)
"""


@query("chunk_long_documents", sql=_CHUNK_SQL, tags=("chunking", "curation"))
def chunk_long_documents(spark, sf_dir):
    """Long-document chunking (operators/packing.py::chunk_documents):
    each doc split into {_CHUNK_TOKENS}-token windows with
    {_CHUNK_OVERLAP}-token overlap — the other half of context-window
    prep (packing joins short docs, chunking splits long ones).
    Map-only explode + array slice, no shuffle; chunk boundaries are a
    pure function of the token count, mirrored exactly in DuckDB."""
    from ..operators.packing import chunk_documents

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_documents(docs, "text", _CHUNK_TOKENS, _CHUNK_OVERLAP)
    return out.select(
        "doc_id", "chunk_id", "chunk_start_token", "chunk_text", "chunk_n_tokens"
    )


# --- Gopher-style document quality gates ----------------------------------

# Bounds follow the published Gopher/MassiveText filter shapes, scaled to
# the fixture corpus (docs are ~20-60 whitespace tokens).
_G_MIN_WORDS, _G_MAX_WORDS = 10, 100_000
_G_MIN_MWL, _G_MAX_MWL = 2.0, 10.0
_G_STOPWORDS = ("the", "a", "and", "of", "to")
_G_MIN_STOPWORD_HITS = 1
_G_SW_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in _G_STOPWORDS) + "]"

_GOPHER_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
feats AS (
  SELECT doc_id,
         len(t) AS n_words,
         CAST(list_reduce(list_transform(t, x -> len(x)), (acc, x) -> acc + x)
              AS DOUBLE) / len(t) AS mwl,
         len(list_intersect(t, {_G_SW_LIST_SQL})) AS sw_hits
  FROM toks
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(mwl, 6) AS mean_word_len,
       CAST(sw_hits AS BIGINT) AS stopword_hits,
       (n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}) AS word_count_ok,
       (mwl BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}) AS mean_word_len_ok,
       (sw_hits >= {_G_MIN_STOPWORD_HITS}) AS stopword_ok,
       ((n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS})
        AND (mwl BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL})
        AND sw_hits >= {_G_MIN_STOPWORD_HITS}) AS passes
FROM feats
"""


@query("quality_gopher_rules", sql=_GOPHER_SQL, tags=("quality", "curation", "text"))
def quality_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText-style document quality gates: word-count bounds,
    mean-word-length bounds, minimum stopword presence, and the combined
    pass flag.  Map-only codegen'd array math (the token sum is an
    explicit sequential fold matching DuckDB's list_reduce) — at 100 TB
    this runs at scan speed with every gate evaluated in the same pass."""
    docs = read_table(spark, sf_dir, "documents")
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_words = F.size(t)
    mwl = (
        F.aggregate(
            F.transform(t, F.length), F.lit(0), lambda acc, x: acc + x
        ).cast("double")
        / n_words
    )
    sw = F.size(
        F.array_intersect(t, F.array(*[F.lit(w) for w in _G_STOPWORDS]))
    )
    wc_ok = (n_words >= _G_MIN_WORDS) & (n_words <= _G_MAX_WORDS)
    mwl_ok = (mwl >= _G_MIN_MWL) & (mwl <= _G_MAX_MWL)
    sw_ok = sw >= _G_MIN_STOPWORD_HITS
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        sw.cast("long").alias("stopword_hits"),
        wc_ok.alias("word_count_ok"),
        mwl_ok.alias("mean_word_len_ok"),
        sw_ok.alias("stopword_ok"),
        (wc_ok & mwl_ok & sw_ok).alias("passes"),
    )


# --- domain-mixture sampling weights --------------------------------------

_MIX_SQL = """
WITH shares AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
),
with_total AS (
  SELECT lang, n_docs,
         sum(n_docs) OVER () AS n_total,
         count(*) OVER () AS n_langs
  FROM shares
)
SELECT d.doc_id, d.lang,
       CAST(w.n_docs AS BIGINT) AS lang_docs,
       round(CAST(w.n_docs AS DOUBLE) / w.n_total, 6) AS corpus_share,
       round(1.0 / w.n_langs, 6) AS target_share,
       round((CAST(w.n_total AS DOUBLE) / w.n_langs) / w.n_docs, 6) AS sample_weight
FROM documents d JOIN with_total w USING (lang)
"""


@query("mix_domain_weights", sql=_MIX_SQL, tags=("mixing", "curation"))
def mix_domain_weights(spark, sf_dir):
    """Domain-mixture reweighting: per-document sampling weight that moves
    the corpus to a TARGET mixture over language shards (uniform here;
    any pinned mixture slots in the same way).  weight =
    target_share / corpus_share, so an over-represented shard is
    down-sampled and a rare one up-weighted — the standard knob for
    pretraining mixtures.  Scale shape: the per-shard histogram is a
    5-row aggregate; its window total runs on those 5 rows, then a
    BROADCAST equi-join stamps weights onto the corpus — the big side is
    never shuffled."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    shares = docs.groupBy("lang").agg(F.count("*").alias("lang_docs"))
    w = Window.partitionBy()
    with_total = shares.select(
        "lang",
        "lang_docs",
        F.sum("lang_docs").over(w).alias("__n_total"),
        F.count("*").over(w).alias("__n_langs"),
    )
    return docs.select("doc_id", "lang").join(
        F.broadcast(with_total), "lang"
    ).select(
        "doc_id",
        "lang",
        F.col("lang_docs").cast("long").alias("lang_docs"),
        F.round(
            F.col("lang_docs").cast("double") / F.col("__n_total"), 6
        ).alias("corpus_share"),
        F.round(F.lit(1.0) / F.col("__n_langs"), 6).alias("target_share"),
        F.round(
            (F.col("__n_total").cast("double") / F.col("__n_langs"))
            / F.col("lang_docs"),
            6,
        ).alias("sample_weight"),
    )


# --- deterministic T5-style span-corruption masking -----------------------

_MASK_START_PM = 80_000  # start probability 0.08, as an integer per-million
_MASK_SPAN = 3  # tokens masked per start (overlaps merge)

_MASK_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
  FROM documents
),
marked AS (
  SELECT doc_id, t, range(1, len(t) + 1) AS ps,
         list_filter(range(1, len(t) + 1),
           p -> {hash60("CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)")}
                % 1000000 < {_MASK_START_PM}) AS starts
  FROM toks
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(starts) AS BIGINT) AS n_spans,
       CAST(len(list_filter(ps,
              p -> len(list_filter(starts,
                     s -> p >= s AND p <= s + {_MASK_SPAN - 1})) > 0))
            AS BIGINT) AS n_masked,
       CAST(len(list_filter(ps,
              p -> len(list_filter(starts,
                     s -> p >= s AND p <= s + {_MASK_SPAN - 1})) > 0))
            AS DOUBLE) / len(t) AS mask_ratio
FROM marked
"""


@query("mask_span_corruption", sql=_MASK_SQL, tags=("curation", "masking"))
def mask_span_corruption(spark, sf_dir):
    """T5-style span-corruption mask assignment, made DETERMINISTIC so a
    100 TB masking pass is reproducible across reruns, engines, and
    retried tasks: instead of rand(), each position's mask-start decision
    is the engine-portable md5-60-bit hash of (doc_id, position) compared
    against an integer per-million threshold (0.08), and every start
    masks a {_MASK_SPAN}-token span (overlaps merge).  Pure map-only
    higher-order array functions — zero shuffles, zero Python UDFs; at
    scale this runs at parquet-scan speed.  Output is the per-doc mask
    accounting (span count, masked-token count, realized ratio ≈
    0.08×{_MASK_SPAN} minus overlap); the masked sequence itself is the
    same transform with array_contains in a projection."""
    from ..operators.dedup import md5_hash60

    docs = read_table(spark, sf_dir, "documents")
    t = F.split(F.lower(F.col("text")), r"\s+")
    d = docs.select("doc_id", t.alias("t")).select(
        "doc_id",
        "t",
        F.sequence(F.lit(1), F.size("t")).alias("ps"),
    )
    u = lambda p: md5_hash60(  # noqa: E731
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), p.cast("string"))
    ) % 1_000_000
    d = d.withColumn("starts", F.filter("ps", lambda p: u(p) < F.lit(_MASK_START_PM)))
    masked = F.filter(
        "ps",
        lambda p: F.exists(
            "starts", lambda s: (p >= s) & (p <= s + F.lit(_MASK_SPAN - 1))
        ),
    )
    return d.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size("starts").cast("long").alias("n_spans"),
        F.size(masked).cast("long").alias("n_masked"),
        (F.size(masked).cast("double") / F.size("t")).alias("mask_ratio"),
    )


# --- deterministic interleave schedule (data-mixing order) ----------------

_TIER_HI = "('src0','src1','src2','src3','src4')"
_TIER_LO = "('src15','src16','src17','src18','src19')"

_INTERLEAVE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {hash60("CAST(doc_id AS VARCHAR)")}, doc_id
         ) AS src_rank,
         CASE WHEN source IN {_TIER_HI} THEN CAST(2.0 AS DOUBLE)
              WHEN source IN {_TIER_LO} THEN CAST(0.5 AS DOUBLE)
              ELSE CAST(1.0 AS DOUBLE) END AS weight
  FROM documents
)
SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank, weight,
       (CAST(src_rank AS DOUBLE) - 0.5) / weight AS position
FROM ranked
"""


@query("mix_interleave_schedule", sql=_INTERLEAVE_SQL, tags=("mixing", "curation"))
def mix_interleave_schedule(spark, sf_dir):
    """Deterministic stride-scheduled interleave order for training-data
    mixing: within each source, documents are ranked by the portable
    md5-60-bit hash of doc_id (a reproducible shuffle — no rand(), so
    reruns, engines, and retried tasks agree), and each doc's global
    stream position is (rank − 0.5) / weight.  Reading the corpus sorted
    by position yields sources at exactly their weight ratios with no
    RNG and no coordination — the stride-scheduling identity.  One
    window shuffle partitioned by source; the position arithmetic is a
    per-row double op on an integer rank, so it is bit-identical across
    engines.  Weights here pin a 3-tier example (2.0 / 1.0 / 0.5); any
    weight table slots in via the same CASE or a broadcast join."""
    from pyspark.sql import Window

    from ..operators.dedup import md5_hash60

    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        md5_hash60(F.col("doc_id").cast("string")), "doc_id"
    )
    hi = {"src0", "src1", "src2", "src3", "src4"}
    lo = {"src15", "src16", "src17", "src18", "src19"}
    weight = (
        F.when(F.col("source").isin(*hi), F.lit(2.0))
        .when(F.col("source").isin(*lo), F.lit(0.5))
        .otherwise(F.lit(1.0))
        .cast("double")
    )
    return docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("long").alias("src_rank"),
        weight.alias("weight"),
    ).select(
        "doc_id",
        "source",
        "src_rank",
        "weight",
        ((F.col("src_rank").cast("double") - 0.5) / F.col("weight")).alias(
            "position"
        ),
    )


# --- L2 normalization (cosine-ready embeddings) ---------------------------

_L2_SQL = """
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           (a, b) -> a + b)) AS norm
  FROM embeddings
)
SELECT vec_id, norm, pos,
       CASE WHEN norm = 0 THEN CAST(0 AS DOUBLE) ELSE x / norm END AS val
FROM (
  SELECT vec_id, norm,
         CAST(unnest(range(len(embedding))) AS BIGINT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM n
)
"""


@query("embedding_l2_normalize", sql=_L2_SQL, tags=("embedding", "curation"))
def embedding_l2_normalize(spark, sf_dir):
    """Unit-normalize the embedding corpus so cosine similarity becomes a
    plain dot product (the precondition every ANN stage here assumes).
    Map-only higher-order functions at scan speed.  Determinism is
    arithmetic, not rounding: the sum of squares folds LEFT-TO-RIGHT on
    both engines (Spark F.aggregate ≡ DuckDB list_reduce; the 0.0 init
    is exact for non-negative squares), IEEE sqrt is correctly rounded,
    and the final division is a single double op — so normalized values
    are bit-identical cross-engine with NO rounding step.  Zero vectors
    normalize to zero (guard, not NaN).  Output flattened to scalar
    (vec_id, norm, pos, val) rows for the driver canonicalizer."""
    emb = read_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    n = emb.select("vec_id", "embedding", F.sqrt(sq_sum).alias("norm"))
    return (
        n.select(
            "vec_id",
            "norm",
            F.posexplode(F.col("embedding")).alias("pos", "x"),
        )
        .select(
            "vec_id",
            "norm",
            F.col("pos").cast("bigint").alias("pos"),
            F.when(F.col("norm") == 0.0, F.lit(0.0))
            .otherwise(F.col("x").cast("double") / F.col("norm"))
            .alias("val"),
        )
    )


# --- exact-n per-stratum deterministic sample -----------------------------

_N_PER_GROUP = 400

_EXACT_N_SQL = f"""
SELECT event_id, event_type, user_id
FROM (
  SELECT event_id, event_type, user_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY {hash60("CAST(event_id AS VARCHAR)")}, event_id
         ) AS rk
  FROM events
)
WHERE rk <= {_N_PER_GROUP}
"""


@query("sample_exact_n_per_group", sql=_EXACT_N_SQL, tags=("sampling", "curation"))
def sample_exact_n_per_group(spark, sf_dir):
    """Exact-n per-stratum sampling (the eval-set builder: exactly N
    examples per class, reproducibly).  Bernoulli sampling gives
    approximate counts; this ranks each stratum by the portable
    md5-60-bit hash (a deterministic shuffle) and keeps the first
    {_N_PER_GROUP} — same rows on every rerun, every engine, every task
    retry.  One window shuffle partitioned by the stratum; at 100 TB
    strata are processed independently, and a skewed stratum can be
    pre-filtered with an approximate hash-threshold pass (keep hash <
    (N/|stratum|-estimate)·2·2⁶⁰) before the exact rank, bounding the
    window input (same two-stage idea as the LSH bucket cap)."""
    from pyspark.sql import Window

    from ..operators.dedup import md5_hash60

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        md5_hash60(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.select("event_id", "event_type", "user_id")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _N_PER_GROUP)
        .drop("rk")
    )


# --- order-statistic winsorization (outlier clipping) ---------------------

_WINSOR_SQL = """
WITH ranked AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
thr AS (
  SELECT event_type, value AS p99
  FROM ranked
  WHERE rk = CAST(ceil(0.99 * n) AS BIGINT)
)
SELECT r.event_id, r.event_type, r.value,
       least(r.value, t.p99) AS clipped,
       CAST(r.value > t.p99 AS BIGINT) AS was_clipped
FROM ranked r JOIN thr t USING (event_type)
"""


@query("quality_value_winsorize", sql=_WINSOR_SQL, tags=("quality", "curation"))
def quality_value_winsorize(spark, sf_dir):
    """Per-group p99 winsorization (outlier clipping before features/
    training), with the threshold defined as an ORDER STATISTIC — the
    ceil(0.99·n)-th smallest actual value — instead of an interpolated
    percentile.  Interpolated quantiles (percentile/quantile_cont) are an
    engine trap: the interpolation arithmetic differs in the last ulp
    across engines, and any rounding of that double inherits the
    boundary-flip problem (docs/determinism.md, round-6).  An order
    statistic IS a data value: both engines select the identical double,
    and the clip comparison is exact.  One window shuffle on the group
    key; the thresholds relation is group-cardinality-sized and joins
    back AQE-sized."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    thr = ranked.where(
        F.col("rk") == F.ceil(0.99 * F.col("n")).cast("long")
    ).select("event_type", F.col("value").alias("p99"))
    return (
        ranked.join(thr, "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.col("value"), F.col("p99")).alias("clipped"),
            (F.col("value") > F.col("p99")).cast("long").alias("was_clipped"),
        )
    )


# --- length-bucketed inference batching -----------------------------------
# Pad-efficient batch assignment: docs grouped into power-of-two length
# buckets (exact integer log2 via length(bin(n)) - 1, no libm), then
# sharded by an engine-portable hash so each (bucket, shard) forms batches
# independently — the window sort is per (bucket, shard) key, never a
# global order, so the plan scales by adding shards.  Batch membership is
# hash-ranked (no rand()), so the batches are reproducible across engines,
# re-runs, and repartitions.

_BATCH_SIZE = 16
_BATCH_SHARDS = 4

_BATCH_SQL = rf"""
WITH n AS (
  SELECT doc_id, len(regexp_split_to_array(lower(text), '\s+')) AS n_tokens,
         {hash60("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens, h,
         CAST(length(printf('%b', n_tokens)) - 1 AS BIGINT) AS log2_bucket,
         CAST(h % {_BATCH_SHARDS} AS BIGINT) AS shard
  FROM n
),
r AS (
  SELECT log2_bucket, shard, n_tokens,
         row_number() OVER (PARTITION BY log2_bucket, shard
                            ORDER BY h, doc_id) AS rn
  FROM b
)
SELECT log2_bucket, shard,
       CAST((rn - 1) // {_BATCH_SIZE} AS BIGINT) AS batch_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS pad_waste
FROM r
GROUP BY 1, 2, 3
"""


@query(
    "batch_length_buckets",
    sql=_BATCH_SQL,
    tags=("curation", "batching", "window"),
)
def batch_length_buckets(spark, sf_dir):
    """Length-bucketed inference batching: assign documents to fixed-size
    batches within power-of-two token-length buckets so padding waste is
    bounded by the bucket width (the serving-side dual of sequence
    packing).  Per batch: doc count, token sum, max length, and the exact
    padding waste (n_docs·max − sum, all-integer).  Plan: map-only
    tokenize/bucket/shard, ONE window shuffle keyed by (bucket, shard) —
    sharding keeps every sort partition-sized at 100 TB (more shards =
    more parallelism, same semantics) — then a keyed aggregation over
    batch ids.  Ordering by (hash, doc_id) makes assignment deterministic
    across engines with no RNG."""
    from pyspark.sql import Window

    from ..operators import text as T
    from ..operators.dedup import md5_hash60

    docs = read_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        F.size(T.ws_tokens(F.col("text"))).alias("n_tokens"),
        md5_hash60(F.col("doc_id").cast("string")).alias("h"),
    )
    b = n.select(
        "doc_id",
        "n_tokens",
        "h",
        (F.length(F.bin(F.col("n_tokens"))) - 1)
        .cast("long")
        .alias("log2_bucket"),
        (F.col("h") % _BATCH_SHARDS).cast("long").alias("shard"),
    )
    w = Window.partitionBy("log2_bucket", "shard").orderBy("h", "doc_id")
    r = b.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy(
            "log2_bucket",
            "shard",
            F.expr(
                f"CAST((rn - 1) DIV {_BATCH_SIZE} AS BIGINT)"
            ).alias("batch_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            (
                F.count("*") * F.max("n_tokens") - F.sum("n_tokens")
            ).cast("long").alias("pad_waste"),
        )
    )


# --- population-stability drift (PSI) -------------------------------------
# Train/serve drift monitor: the value distribution of the first half of
# the time range (reference) vs the second half (candidate), binned at
# fixed width, with the per-bin PSI term (p−q)·ln(p/q) under Laplace
# smoothing.  All counts are exact integers; p and q are each ONE double
# division; only the ln() is libm-dependent, so the final term is rounded
# to 6dp over ≤10 bins (docs/determinism.md "transcendentals").

_PSI_BIN_WIDTH = 50.0
_PSI_MAX_BIN = 9  # 10 bins total; smoothing denominator adds 10

_PSI_SQL = f"""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         LEAST({_PSI_MAX_BIN},
               CAST(floor(value / {_PSI_BIN_WIDTH}) AS BIGINT)) AS bin
  FROM events
),
cut AS (
  SELECT (min(day) + max(day) + 1) // 2 AS cutoff FROM d
),
c AS (
  SELECT bin,
         CAST(sum(CASE WHEN day < cutoff THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(sum(CASE WHEN day >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new
  FROM d, cut GROUP BY bin
),
t AS (
  SELECT bin, n_ref, n_new,
         CAST(sum(n_ref) OVER () AS BIGINT) AS tot_ref,
         CAST(sum(n_new) OVER () AS BIGINT) AS tot_new
  FROM c
)
SELECT bin, n_ref, n_new,
       round((CAST(n_ref + 1 AS DOUBLE) / (tot_ref + 10)
              - CAST(n_new + 1 AS DOUBLE) / (tot_new + 10))
             * ln((CAST(n_ref + 1 AS DOUBLE) / (tot_ref + 10))
                  / (CAST(n_new + 1 AS DOUBLE) / (tot_new + 10))), 6)
         AS psi_term
FROM t
"""


@query("drift_psi_bins", sql=_PSI_SQL, tags=("curation", "quality", "drift"))
def drift_psi_bins(spark, sf_dir):
    """Population Stability Index between the first and second half of the
    event-time range: per value-bin counts for both periods plus the
    smoothed PSI term — the drift gate a pipeline checks before promoting
    a new training snapshot.  Plan: map-only day/bin projection, the
    (min,max)-day cutoff is a 1-row aggregate broadcast back (no second
    scan shuffle), one keyed aggregation over ≤10 bins, then a window on
    that tiny result for the totals.  Scales as a single pass over the
    fact table."""
    ev = read_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    d = ev.select(
        day.alias("day"),
        F.least(
            F.lit(_PSI_MAX_BIN),
            F.floor(F.col("value") / _PSI_BIN_WIDTH).cast("long"),
        ).alias("bin"),
    )
    cut = d.agg(
        F.expr("CAST((min(day) + max(day) + 1) DIV 2 AS BIGINT)").alias(
            "cutoff"
        )
    )
    c = (
        d.crossJoin(F.broadcast(cut))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("day") < F.col("cutoff"), 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(F.col("day") >= F.col("cutoff"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    p = (F.col("n_ref") + 1).cast("double") / (F.col("tot_ref") + 10)
    q = (F.col("n_new") + 1).cast("double") / (F.col("tot_new") + 10)
    return (
        c.withColumn("tot_ref", F.sum("n_ref").over(w).cast("long"))
        .withColumn("tot_new", F.sum("n_new").over(w).cast("long"))
        .select(
            "bin",
            "n_ref",
            "n_new",
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
    )


# --- drift vs a PERSISTED baseline artifact --------------------------------
# The production drift monitor does not re-scan last month's corpus per
# check: the reference distribution is computed ONCE, frozen as an
# artifact, and every candidate batch probes it — the same
# build-once/probe-many shape as the persisted signature/band/posting
# indexes.  Fixture roles: baseline corpus = even doc_ids, candidate
# batch = odd doc_ids; the measure is document length in whitespace
# tokens, binned at 16-token width into 10 capped bins.  The artifact is
# the baseline's 10-row (bin, n_ref) histogram on warehouse-rooted
# scratch; the probe full-outer-joins its own 10-row histogram against
# the read-back, Laplace-smooths both sides, and emits the per-bin PSI
# term (same determinism argument as drift_psi_bins: exact BIGINT
# counts, one double division per side, one ln, rounded to 6dp over ≤10
# rows).  Persistence is result-transparent, so the oracle computes both
# histograms from the documents table directly.

_BASEDRIFT_BIN_TOKENS = 16
_BASEDRIFT_MAX_BIN = 9

_BASEDRIFT_SQL = f"""
WITH d AS (
  SELECT doc_id,
         LEAST({_BASEDRIFT_MAX_BIN},
               CAST(floor(len(regexp_split_to_array(trim(text), '\\s+'))
                    / {_BASEDRIFT_BIN_TOKENS}) AS BIGINT)) AS bin
  FROM documents
),
ref AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_ref
  FROM d WHERE doc_id % 2 = 0 GROUP BY bin
),
cur AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_new
  FROM d WHERE doc_id % 2 = 1 GROUP BY bin
),
j AS (
  SELECT COALESCE(ref.bin, cur.bin) AS bin,
         COALESCE(n_ref, 0) AS n_ref,
         COALESCE(n_new, 0) AS n_new
  FROM ref FULL OUTER JOIN cur ON ref.bin = cur.bin
),
t AS (
  SELECT bin, n_ref, n_new,
         CAST(sum(n_ref) OVER () AS BIGINT) AS tot_ref,
         CAST(sum(n_new) OVER () AS BIGINT) AS tot_new
  FROM j
)
SELECT bin, n_ref, n_new,
       round((CAST(n_ref + 1 AS DOUBLE) / (tot_ref + 10)
              - CAST(n_new + 1 AS DOUBLE) / (tot_new + 10))
             * ln((CAST(n_ref + 1 AS DOUBLE) / (tot_ref + 10))
                  / (CAST(n_new + 1 AS DOUBLE) / (tot_new + 10))), 6)
         AS psi_term
FROM t
"""


@query(
    "drift_against_persisted_baseline",
    sql=_BASEDRIFT_SQL,
    tags=("curation", "quality", "drift", "index"),
)
def drift_against_persisted_baseline(spark, sf_dir):
    """Token-length drift of a candidate batch against a PERSISTED
    baseline histogram artifact — see block comment.  The baseline is
    written to warehouse-rooted scratch, read back, and probed; a stale
    or corrupted artifact breaks the value hash."""
    from pyspark.sql import Window

    from ..sources import index_scratch_dir

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bin_col = F.least(
        F.lit(_BASEDRIFT_MAX_BIN),
        F.floor(
            PK.whitespace_token_count(F.col("text")) / _BASEDRIFT_BIN_TOKENS
        ).cast("long"),
    ).alias("bin")
    d = docs.select("doc_id", bin_col)

    baseline = (
        d.where(F.col("doc_id") % 2 == 0)
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_ref"))
    )
    # freeze the baseline: the artifact every future batch probes
    base_path = index_scratch_dir(spark, "drift_baseline")
    baseline.write.parquet(base_path)
    frozen = spark.read.parquet(base_path)

    cur = (
        d.where(F.col("doc_id") % 2 == 1)
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_new"))
    )
    j = (
        frozen.join(cur, "bin", "full")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
    )
    w = Window.partitionBy()
    p = (F.col("n_ref") + 1).cast("double") / (F.col("tot_ref") + 10)
    q = (F.col("n_new") + 1).cast("double") / (F.col("tot_new") + 10)
    return (
        j.withColumn("tot_ref", F.sum("n_ref").over(w).cast("long"))
        .withColumn("tot_new", F.sum("n_new").over(w).cast("long"))
        .select(
            "bin",
            "n_ref",
            "n_new",
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
    )


# --- single-pass in-flight pipeline metrics (Observation API) -------------
# The production answer to "don't scan the data twice for DQ counters": a
# named Observation attached to the pipeline's own pass collects exact
# aggregates as a side channel of the action that was running anyway —
# zero extra jobs, zero extra shuffles, metrics wired from executors to
# the driver with the task results.  Here the "pipeline action" is a
# noop-sink write (the format Spark ships for exactly this measure-the-
# pass pattern); in production it is the real parquet/Kafka write.

_OBSERVE_SQL = """
SELECT count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS min_ts_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts_epoch,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM events
"""


@query(
    "observe_inflight_metrics",
    sql=_OBSERVE_SQL,
    tags=("quality", "audit", "orchestration"),
)
def observe_inflight_metrics(spark, sf_dir):
    """In-flight data-quality counters via ``DataFrame.observe``: row
    count, exact decimal value total, time-range bounds, and a per-class
    count, all collected DURING a single pipeline pass (a noop-sink write
    stands in for the production sink) rather than by re-scanning.  The
    observed metrics are exact aggregates, so the returned 1-row frame is
    oracle-checkable like any query.  At 100 TB this is the difference
    between free metrics and a second full-table job."""
    from pyspark.sql import Observation

    ev = read_table(spark, sf_dir, "events")
    obs = Observation()
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value_dec"),
        F.min(F.unix_timestamp("ts")).alias("min_ts_epoch"),
        F.max(F.unix_timestamp("ts")).alias("max_ts_epoch"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purchases"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_events"],
                float(m["total_value_dec"]),
                m["min_ts_epoch"],
                m["max_ts_epoch"],
                m["n_purchases"],
            )
        ],
        "n_events long, total_value double, min_ts_epoch long,"
        " max_ts_epoch long, n_purchases long",
    )


# --- token-budget corpus subsetting ---------------------------------------
# Mixture construction: take documents per source, in deterministic hash
# order, until the source's token budget is spent (first crossing doc
# included) — how a fixed-size pretraining mix is actually drawn from an
# oversized corpus.  One window cumsum per source key; membership depends
# only on (hash, doc_id) order, so reruns/backfills select identical docs.

_MIX_BUDGET_TOKENS = 1000

_MIX_BUDGET_SQL = rf"""
WITH t AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(lower(text), '\s+')) AS n_tokens,
         {hash60("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
r AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum AS BIGINT) AS cum_tokens
FROM r WHERE cum - n_tokens < {_MIX_BUDGET_TOKENS}
"""


@query(
    "mix_budget_select",
    sql=_MIX_BUDGET_SQL,
    tags=("curation", "mixing", "window"),
)
def mix_budget_select(spark, sf_dir):
    """Token-budget corpus subsetting: per source, keep documents in
    deterministic hash order until the source's token budget is spent
    (the doc that crosses the budget is included, so every budget is
    met).  This is the draw step of mixture construction — an oversized
    corpus cut down to a fixed per-source token allocation,
    reproducibly.  Plan: map-only tokenize/hash, ONE window shuffle
    keyed by source for the running sum, then a map-only filter.  The
    running sum is integer-exact; selection is identical on any engine,
    rerun, or repartitioning."""
    from ..operators import text as T
    from ..operators.sampling import budget_select

    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(T.ws_tokens(F.col("text"))).alias("n_tokens"),
    )
    kept = budget_select(
        t, stratum="source", key="doc_id", weight="n_tokens",
        budget=_MIX_BUDGET_TOKENS,
    )
    return kept.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_n_tokens").cast("long").alias("cum_tokens"),
    )


# --- small-file compaction (table maintenance) ----------------------------

_COMPACT_FRAGMENTS = 48
_COMPACT_TARGET = 256 * 1024


# Rows-only → oracle lift (VERDICT r8 item 5), contract pattern: the raw
# files_after/planned_files counts depend on the parquet encoder's byte
# sizes, so they are carried as BOOLEAN invariants (after == planned,
# after < before) rather than values; everything else — the fragment
# count (round-robin repartition of a non-tiny table fills all 48) and
# the exact row-count / decimal-value preservation audit — the oracle
# recomputes from the events table alone.  The encoder-valued columns
# stay pinned in tests/test_maintenance.py.
_COMPACT_SQL = f"""
SELECT CAST({_COMPACT_FRAGMENTS} AS BIGINT) AS files_before,
       CAST(TRUE AS BOOLEAN) AS compacted_fewer_files,
       CAST(TRUE AS BOOLEAN) AS after_eq_planned,
       CAST(TRUE AS BOOLEAN) AS rows_preserved,
       CAST(TRUE AS BOOLEAN) AS value_sum_preserved,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events
"""


@query(
    "maintenance_compact_files",
    sql=_COMPACT_SQL,
    tags=("maintenance", "compaction"),
)
def maintenance_compact_files(spark, sf_dir):
    """Small-file compaction with a built-in preservation audit: fragment
    the events table into {_COMPACT_FRAGMENTS} files (simulating
    micro-batch accretion), compact to ~256 KiB targets via
    ``operators/maintenance.compact``, and emit one stats row proving the
    rewrite lost nothing (exact row count + exact decimal value sum
    compared before/after).  Oracle-checked since round 9 under the
    contract pattern — see _COMPACT_SQL note.  At 100 TB the same call
    runs per hive-partition directory so each bin-packing shuffle is
    partition-sized — see the operator docstring."""
    from ..operators import maintenance as M
    from ..sources import index_scratch_dir

    # executor-written artifact dirs — warehouse-rooted shared scratch
    # (the helper owns exit cleanup), never a driver-local tempdir
    work = index_scratch_dir(spark, "compact")
    frag_dir = f"{work}/fragmented"
    dest_dir = f"{work}/compacted"

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.repartition(_COMPACT_FRAGMENTS).write.parquet(frag_dir)

    stats = M.compact(
        spark, frag_dir, dest_dir, target_bytes=_COMPACT_TARGET
    )

    def _audit(path):
        df = spark.read.parquet(path)
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        ).collect()[0]

    src, dst = _audit(frag_dir), _audit(dest_dir)
    return spark.createDataFrame(
        [
            (
                stats["files_before"],
                bool(stats["files_after"] < stats["files_before"]),
                bool(stats["files_after"] == stats["planned_files"]),
                bool(src["n"] == dst["n"]),
                bool(src["v"] == dst["v"]),
                int(dst["n"]),
            )
        ],
        "files_before long, compacted_fewer_files boolean, "
        "after_eq_planned boolean, rows_preserved boolean, "
        "value_sum_preserved boolean, n_rows long",
    )


# --- snapshot diff (CDC reconciliation) -----------------------------------

_DIFF_SQL = f"""
WITH b AS (
  SELECT c_custkey,
         {hash60("CAST(c_custkey AS VARCHAR)")} % 100 AS bucket
  FROM customer
)
SELECT c_custkey, 'removed' AS status FROM b WHERE bucket < 3
UNION ALL
SELECT c_custkey, 'changed' AS status FROM b WHERE bucket >= 3 AND bucket < 10
UNION ALL
SELECT c_custkey + 1000000 AS c_custkey, 'added' AS status
FROM b WHERE bucket >= 10 AND bucket < 12
"""


@query("diff_snapshot_customers", sql=_DIFF_SQL, tags=("diff", "cdc", "maintenance"))
def diff_snapshot_customers(spark, sf_dir):
    """Snapshot reconciliation: build a v2 of the customer table by a
    deterministic hash rule (3% of keys deleted, 7% with c_acctbal
    shifted, 2% re-inserted under shifted keys), run the generic
    ``operators/diff.snapshot_diff`` full-outer-join differ against v1,
    and emit the non-unchanged (key, status) rows.

    The differ sees only the two tables, never the rule; the DuckDB
    oracle derives the EXPECTED statuses from the rule alone (same
    portable md5-60-bit hash) — so the check proves the join-based change
    detection reconstructs the mutation log exactly.  One column-pruned
    full-outer shuffle join, no broadcast (both sides fact-sized),
    unchanged rows filtered in-plan; with both snapshots bucket-written
    on the key the join plans with zero exchanges (tests/test_sinks.py
    pattern)."""
    from ..operators.dedup import md5_hash60
    from ..operators.diff import snapshot_diff

    cust = read_table(spark, sf_dir, "customer")
    base = cust.withColumn(
        "_b", md5_hash60(F.col("c_custkey").cast("string")) % 100
    )
    v2 = (
        base.where(F.col("_b") >= 3)
        .withColumn(
            "c_acctbal",
            F.when(F.col("_b") < 10, F.col("c_acctbal") + 100.0).otherwise(
                F.col("c_acctbal")
            ),
        )
        .drop("_b")
        .unionByName(
            base.where((F.col("_b") >= 10) & (F.col("_b") < 12))
            .withColumn("c_custkey", (F.col("c_custkey") + 1000000).cast("long"))
            .drop("_b")
        )
    )
    return snapshot_diff(cust, v2, ["c_custkey"]).select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "status"
    )


# --- MAD robust outlier detection (Iglewicz–Hoaglin modified z) -----------

_MAD_SQL = """
WITH ranked AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT event_type, value AS med FROM ranked WHERE rk = (n + 1) // 2
),
dev AS (
  SELECT r.event_id, r.event_type, r.value, m.med,
         abs(r.value - m.med) AS adev
  FROM ranked r JOIN med m USING (event_type)
),
devranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY adev, event_id) AS rk2,
         count(*) OVER (PARTITION BY event_type) AS n2
  FROM dev
),
madt AS (
  SELECT event_type, adev AS mad FROM devranked WHERE rk2 = (n2 + 1) // 2
)
SELECT d.event_id, d.event_type, d.value, d.med, m.mad, d.adev
FROM dev d JOIN madt m USING (event_type)
WHERE d.adev > 3.5 * 1.4826 * m.mad
"""


@query("anomaly_mad_outliers", sql=_MAD_SQL, tags=("quality", "anomaly"))
def anomaly_mad_outliers(spark, sf_dir):
    """Robust per-group outlier detection: flag values whose
    Iglewicz–Hoaglin modified z-score exceeds 3.5, i.e.
    ``|x − median| > 3.5 · 1.4826 · MAD`` — the median/MAD filter that
    survives the very outliers a mean/stddev z-score would absorb.

    Both the median and the MAD are ORDER STATISTICS (the lower-median
    rule ``rk = (n+1) div 2``), never interpolated quantiles — the same
    engine-portability contract as quality_value_winsorize: each
    statistic IS a data value, ``abs(x − med)`` is a single IEEE
    subtraction on identical doubles, and the threshold comparison
    multiplies exact constants — so the flag set needs no rounding and no
    division (MAD = 0 degrades gracefully: every nonzero deviation
    flags, no divide-by-zero).  Two window shuffles on the group key
    (value rank, then deviation rank) + two group-cardinality-sized
    threshold joins back (AQE broadcasts them); a skewed group bounds
    like the winsorize/exact-n pattern."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w_cnt = Window.partitionBy("event_type")

    ranked = ev.select(
        "event_id",
        "event_type",
        "value",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("rk"),
        F.count("*").over(w_cnt).alias("n"),
    )
    med = ranked.where(F.col("rk") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("value").alias("med")
    )
    dev = ranked.join(med, "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    devranked = dev.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("adev", "event_id"))
        .alias("rk2"),
        F.count("*").over(w_cnt).alias("n2"),
    )
    mad = devranked.where(F.col("rk2") == F.expr("(n2 + 1) div 2")).select(
        "event_type", F.col("adev").alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .where(F.col("adev") > 3.5 * 1.4826 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad", "adev")
    )


# --- temperature-weighted mixture resampling ------------------------------

_TEMP_TAU_PM = "0.7"        # written as a literal in BOTH engines' pow()
_TEMP_BUDGET_SHARE = "0.5"  # keep ~half the corpus, reallocated by tau

_TEMP_SQL = f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM counts),
temp AS (
  SELECT source, n_docs,
         floor(pow(CAST(n_docs AS DOUBLE), {_TEMP_TAU_PM}) * 1000000.0 + 0.5)
           / 1000000.0 AS t
  FROM counts
),
norm AS (SELECT CAST(sum(CAST(t AS DECIMAL(28,6))) AS DOUBLE) AS z FROM temp),
rates AS (
  SELECT source, n_docs,
         CAST(floor(least(1.0,
                 floor({_TEMP_BUDGET_SHARE} * tot.n) * (t / norm.z) / n_docs)
               * 1000000.0 + 0.5) AS BIGINT) AS rate_pm
  FROM temp CROSS JOIN tot CROSS JOIN norm
),
kept AS (
  SELECT d.source, count(*) AS n_kept
  FROM documents d JOIN rates r ON d.source = r.source
  WHERE {{hash}} % 1000000 < r.rate_pm
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.rate_pm,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rates r LEFT JOIN kept k ON r.source = k.source
"""


def _temp_sql() -> str:
    return _TEMP_SQL.replace("{hash}", hash60("CAST(d.doc_id AS VARCHAR)"))


@query("mix_temperature_resample", sql=_temp_sql(), tags=("mixing", "curation"))
def mix_temperature_resample(spark, sf_dir):
    """Temperature-weighted mixture resampling (the multilingual-
    pretraining τ-sampling rule): reallocate a 50%-of-corpus budget
    across sources proportionally to n_s^0.7, flattening the head and
    boosting the tail, then materialize each source's keep-rate as a
    deterministic per-million hash threshold — the same document is kept
    on every engine, rerun, and retry (no RNG).

    Determinism: the one transcendental pow(n, 0.7) quantizes on the
    1e-6 floor grid per source before the DECIMAL-exact normalizer sum;
    the rate chain is IEEE ops in identical order, re-quantized to an
    INTEGER per-million threshold; membership is then an exact integer
    compare on the portable md5-60-bit hash.  Source-cardinality tables
    broadcast; the corpus scan is map-only plus one source rollup."""
    from ..operators.dedup import md5_hash60

    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").cast("long").alias("n"))
    t = F.floor(
        F.pow(F.col("n_docs").cast("double"), 0.7) * 1000000.0 + 0.5
    ) / 1000000.0
    temp = counts.select("source", "n_docs", t.alias("t"))
    norm = temp.agg(
        F.sum(F.col("t").cast("decimal(28,6)")).cast("double").alias("z")
    )
    rate = F.floor(
        F.least(
            F.lit(1.0),
            F.floor(0.5 * F.col("n"))
            * (F.col("t") / F.col("z"))
            / F.col("n_docs"),
        )
        * 1000000.0
        + 0.5
    ).cast("long")
    rates = (
        temp.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(norm))
        .select("source", "n_docs", rate.alias("rate_pm"))
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .where(
            md5_hash60(F.col("doc_id").cast("string")) % 1000000
            < F.col("rate_pm")
        )
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "rate_pm",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
    )


# --- Benford leading-digit audit (fraud/synthetic-data smell test) --------
# Naturally-occurring multi-magnitude amounts follow Benford's law
# (P(d) = log10(1 + 1/d)); a fabricated or truncated column doesn't.  The
# leading digit is extracted from the exact cent BIGINT's decimal string —
# never via log10 of the float, whose boundary cells (0.999…→1000.0)
# would round differently per engine.  Map-only scan + a 9-row aggregate;
# the expected shares are log10 of nine fixed rationals whose 6-dp
# roundings sit far from any boundary (safe cross-libm).

_BENFORD_SQL = """
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
  FROM orders WHERE o_totalprice > 0
),
digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM cents GROUP BY digit
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM digits)
SELECT d.digit, d.n,
       round(CAST(d.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS observed_share,
       round(log10(1.0 + 1.0 / CAST(d.digit AS DOUBLE)), 6) AS benford_share,
       round(abs(CAST(d.n AS DOUBLE) / CAST(t.total AS DOUBLE)
                 - log10(1.0 + 1.0 / CAST(d.digit AS DOUBLE))), 6) AS abs_gap
FROM digits d CROSS JOIN tot t
"""


@query("dq_benford_leading_digit", sql=_BENFORD_SQL, tags=("quality", "audit"))
def dq_benford_leading_digit(spark, sf_dir):
    """Benford's-law conformance of order totals: observed vs expected
    leading-digit shares and their absolute gaps (see block comment for
    the exact-cents digit extraction and the map-only scale shape)."""
    orders = read_table(spark, sf_dir, "orders")
    c = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    digits = (
        orders.where(F.col("o_totalprice") > 0)
        .select(F.substring(c.cast("string"), 1, 1).cast("long").alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = digits.agg(F.sum("n").cast("long").alias("total"))
    share = F.col("n").cast("double") / F.col("total").cast("double")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return digits.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(share, 6).alias("observed_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(F.abs(share - benford), 6).alias("abs_gap"),
    )


# --- probability-proportional-to-size document sampling -------------------
# Token-weighted corpus draws ("sample documents ∝ length") via the same
# engine-portable decision the whole curation family uses: a 60-bit md5
# hash as the uniform, compared against an inclusion probability computed
# from exact BIGINT inputs through an identical IEEE op sequence on both
# engines — the comparison operands are bit-identical cross-engine, so
# the kept set is too (stronger than seeded RNG, which survives neither
# engine swaps nor task retries).  p_i = min(1, RATE · w_i·N/ΣW), i.e.
# RATE scaled by each doc's length relative to the mean.  Map-only over
# the corpus with one broadcast scalar row; per-source audit output.

_PPS_RATE = 0.2

_PPS_SQL = f"""
WITH tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(n_chars) AS BIGINT) AS w_total
  FROM documents
),
scored AS (
  SELECT d.source, d.n_chars,
         CASE WHEN CAST({hash60("CAST(d.doc_id AS VARCHAR)")} AS DOUBLE)
                   / 1152921504606846976.0
                 < least(1.0, {_PPS_RATE} * CAST(d.n_chars AS DOUBLE)
                              * CAST(t.n_total AS DOUBLE)
                              / CAST(t.w_total AS DOUBLE))
              THEN 1 ELSE 0 END AS kept
  FROM documents d CROSS JOIN tot t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars,
       round(CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS kept_share
FROM scored GROUP BY source
"""


@query("sample_weighted_pps", sql=_PPS_SQL, tags=("curation", "sampling"))
def sample_weighted_pps(spark, sf_dir):
    """Length-weighted (probability-proportional-to-size) document
    sampling with hash-derived inclusion decisions, audited per source
    (see block comment; docs/determinism.md hash-decision rule)."""
    from ..operators.dedup import md5_hash60

    docs = read_table(spark, sf_dir, "documents")
    tot = docs.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("n_chars").cast("long").alias("w_total"),
    )
    u = md5_hash60(F.col("doc_id").cast("string")).cast("double") / F.lit(
        1152921504606846976.0
    )
    p = F.least(
        F.lit(1.0),
        F.lit(_PPS_RATE)
        * F.col("n_chars").cast("double")
        * F.col("n_total").cast("double")
        / F.col("w_total").cast("double"),
    )
    scored = docs.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_chars",
        F.when(u < p, 1).otherwise(0).cast("long").alias("kept"),
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
        F.round(
            F.sum("kept").cast("double") / F.count("*").cast("double"), 6
        ).alias("kept_share"),
    )


# --- deterministic k-fold assignment (train/eval split audit) -------------
# Cross-validation folds assigned by hash, not RNG: fold(doc) =
# md5-60(doc_id) mod K is reproducible across engines, reruns, task
# retries, and cluster sizes — the property a 100 TB training pipeline
# needs so that fold membership NEVER silently shifts between the job
# that writes fold 0 and the job that evaluates on it.  The per-(fold,
# language) audit both proves the assignment and shows the balance
# hash-folding buys (each fold ≈ a uniform stratum of every language).
# Map-only: one hash per row, one small aggregation.

_FOLDS_K = 5

_FOLD_SQL = f"""
SELECT CAST({hash60("CAST(doc_id AS VARCHAR)")} % {_FOLDS_K} AS BIGINT) AS fold,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY fold, lang
"""


@query("ml_fold_assignment", sql=_FOLD_SQL, tags=("curation", "ml", "sampling"))
def ml_fold_assignment(spark, sf_dir):
    """Hash-derived {_FOLDS_K}-fold cross-validation assignment over the
    document corpus, audited per (fold, language) — see block comment."""
    from ..operators.dedup import md5_hash60

    docs = read_table(spark, sf_dir, "documents")
    fold = (md5_hash60(F.col("doc_id").cast("string")) % _FOLDS_K).cast("long")
    return docs.groupBy(fold.alias("fold"), "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- bucketed co-located join (the shuffle-elimination layout) ------------
# Bucketing is the layout answer to "this join runs every night on the
# same key": pre-hash both tables into the SAME bucket count on the join
# key at WRITE time, and every subsequent join on that key needs no
# exchange at all — each task merge-joins bucket i ⋈ bucket i (sortBy
# makes the merge sort-free too).  At 100 TB this converts the nightly
# orders ⋈ customer shuffle (the dominant cost) into a scan;
# tests/test_plan_pins.py pins the no-Exchange plan.  The query writes
# both fixture tables bucketed to a scratch dir, joins through the
# catalog tables, and aggregates — the RESULT (which the oracle checks
# against a plain join) is layout-independent by construction.

_BUCKETS = 8
_BUCKET_SEQ = [0]


@query(
    "layout_bucketed_join",
    sql="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("layout", "join", "bucketing"),
)
def layout_bucketed_join(spark, sf_dir):
    """Per-segment order revenue through BUCKETED catalog tables — the
    co-located join layout (see block comment)."""
    import os

    from ..sources import index_scratch_dir

    _BUCKET_SEQ[0] += 1
    tag = f"{os.getpid()}_{_BUCKET_SEQ[0]}"
    # bucketed CATALOG tables belong under the warehouse anyway — the
    # shared scratch keeps their data files executor-visible on a cluster
    base = index_scratch_dir(spark, "bucketed_tables")
    for tbl, df, key in (
        (f"bdap_orders_{tag}", read_table(spark, sf_dir, "orders"), "o_custkey"),
        (
            f"bdap_customer_{tag}",
            read_table(spark, sf_dir, "customer"),
            "c_custkey",
        ),
    ):
        (
            df.write.format("parquet")
            .mode("overwrite")
            .bucketBy(_BUCKETS, key)
            .sortBy(key)
            .option("path", os.path.join(base, tbl))
            .saveAsTable(tbl)
        )
    o = spark.table(f"bdap_orders_{tag}")
    c = spark.table(f"bdap_customer_{tag}")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# --- curriculum phase assignment by quality tertile -----------------------
# Curriculum training consumes the corpus easiest-last: phase 2 holds the
# top quality tertile, phase 0 the bottom.  Exact tertiles over 100 TB
# need a global rank with no single reducer — the same in-plan global
# rank RFM uses (range partition → local row_number → broadcast
# offsets).  Per-doc quality rounds to 6 dp BEFORE ranking
# (determinism.md ordering rule, doc_id tie-break); the per-phase mean
# quality sums micro-quantized BIGINTs, never raw doubles.

_CURRICULUM_SQL = r"""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         round(least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
               + least(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> list_contains(['the','a','of','to','and','in','is','it'], x)))::DOUBLE
                       / len(regexp_split_to_array(lower(text), '\s+')) * 4, 1.0) * 0.3
               + greatest(1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
                          / length(text) * 10, 0.0) * 0.3, 6) AS q
  FROM documents
),
ranked AS (
  SELECT lang, n_chars, q,
         row_number() OVER (ORDER BY q, doc_id) AS rn,
         count(*) OVER () AS n
  FROM scored
),
phased AS (
  SELECT lang, n_chars, q,
         CAST(floor((rn - 1) * 3.0 / n) AS BIGINT) AS phase
  FROM ranked
)
SELECT phase, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(CAST(sum(CAST(floor(q * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / count(*), 6) AS mean_quality
FROM phased GROUP BY phase, lang
"""


@query(
    "curriculum_phase_assignment",
    sql=_CURRICULUM_SQL,
    tags=("curation", "ranking"),
)
def curriculum_phase_assignment(spark, sf_dir):
    """Quality-tertile curriculum phases over the corpus, audited per
    (phase, language) — see block comment."""
    from ..operators import text as T
    from ..operators.rank import inplan_global_rank

    docs = read_table(spark, sf_dir, "documents")
    toks = T.ws_tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(T.quality_score(F.col("text"), toks), 6).alias("q"),
    )
    ranked = inplan_global_rank(scored, ["q", "doc_id"], "__grank", n_col="__n")
    phased = ranked.select(
        "lang",
        "n_chars",
        "q",
        F.floor((F.col("__grank") - 1) * 3.0 / F.col("__n"))
        .cast("long")
        .alias("phase"),
    )
    return phased.groupBy("phase", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(
            F.sum(F.floor(F.col("q") * 1000000.0 + F.lit(0.5)).cast("long"))
            .cast("double")
            / 1000000.0
            / F.count("*"),
            6,
        ).alias("mean_quality"),
    )


# --- partition-pruned scan (the read-side payoff of layout) ---------------
# Partitioning by day is the other half of the layout story (bucketing
# handles joins; partitioning handles time-range filters): a day-filtered
# query against a day-partitioned table must plan with PartitionFilters
# that skip every other directory — at 100 TB that is the difference
# between scanning 100 TB and scanning one day.  The query writes events
# day-partitioned to scratch (write_partitioned keeps file count ≈
# |days|), reads back ONE day, and aggregates; the plan pin in
# tests/test_plan_pins.py asserts the day predicate lands in
# PartitionFilters, not as a post-scan filter.

_PRUNE_SEQ = [0]


@query(
    "layout_partition_pruned_scan",
    sql="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE CAST(floor(epoch(ts) / 86400) AS BIGINT) =
          (SELECT min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) FROM events)
    GROUP BY event_type
    """,
    tags=("layout", "partitioning"),
)
def layout_partition_pruned_scan(spark, sf_dir):
    """Per-type counts for the corpus's FIRST day, answered through a
    day-partitioned copy of the table so only that day's directory is
    scanned — see block comment."""
    from ..sources.sinks import index_scratch_dir, write_partitioned

    _PRUNE_SEQ[0] += 1
    # executor-written partitioned layout — warehouse-rooted shared scratch
    base = f"{index_scratch_dir(spark, 'dayparts')}/run{_PRUNE_SEQ[0]}"
    ev = read_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    write_partitioned(ev.withColumn("day", day), base, ["day"])
    first_day = ev.agg(F.min(day)).collect()[0][0]
    parts = spark.read.parquet(base)
    return (
        parts.where(F.col("day") == F.lit(first_day))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


# --- MERGE upsert (update-matched / insert-unmatched) ---------------------
# The warehouse MERGE INTO between SCD2 (keeps history) and plain
# overwrite (keeps nothing): matched keys take the update's values,
# unmatched updates insert.  Scale shape: ONE key-shuffled left join for
# the update application plus one anti-join for the inserts (both sides
# reuse the same hash partitioning; with bucket-written tables both plan
# exchange-free — see layout_bucketed_join).  The update batch is
# rule-derived from the fixture (every 7th customer re-segmented to
# MOBILE, plus 50 synthetic new customers above the max key), so the
# oracle recomputes it exactly.

_MERGE_SQL = """
WITH upd AS (
  SELECT c_custkey, 'MOBILE' AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT (SELECT max(c_custkey) FROM customer) + i AS c_custkey,
         'ONLINE' AS c_mktsegment
  FROM range(1, 51) t(i)
),
updated AS (
  SELECT c.c_custkey,
         coalesce(u.c_mktsegment, c.c_mktsegment) AS c_mktsegment,
         CASE WHEN u.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS was_updated
  FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
),
inserted AS (
  SELECT u.c_custkey, u.c_mktsegment, 2 AS was_updated
  FROM upd u LEFT JOIN customer c ON u.c_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
)
SELECT c_mktsegment,
       CAST(was_updated AS BIGINT) AS change_class,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(c_custkey) AS BIGINT) AS min_key,
       CAST(max(c_custkey) AS BIGINT) AS max_key
FROM (SELECT * FROM updated UNION ALL SELECT * FROM inserted)
GROUP BY c_mktsegment, was_updated
"""


@query("maintenance_merge_upsert", sql=_MERGE_SQL, tags=("maintenance", "join"))
def maintenance_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics (update matched, insert unmatched) over the
    customer dimension, audited per (segment, change class: 0 untouched /
    1 updated / 2 inserted) — see block comment."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    max_key = cust.agg(F.max("c_custkey").alias("mk"))
    upd_existing = cust.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("MOBILE").alias("c_mktsegment")
    )
    new_rows = (
        spark.range(1, 51)
        .crossJoin(F.broadcast(max_key))
        .select(
            (F.col("mk") + F.col("id")).alias("c_custkey"),
            F.lit("ONLINE").alias("c_mktsegment"),
        )
    )
    upd = upd_existing.unionByName(new_rows)
    u = upd.select(
        F.col("c_custkey").alias("u_key"), F.col("c_mktsegment").alias("u_seg")
    )
    updated = cust.join(u, cust.c_custkey == u.u_key, "left").select(
        "c_custkey",
        F.coalesce("u_seg", "c_mktsegment").alias("c_mktsegment"),
        F.when(F.col("u_key").isNotNull(), 1).otherwise(0).alias("was_updated"),
    )
    inserted = upd.join(
        cust, upd.c_custkey == cust.c_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment", F.lit(2).alias("was_updated"))
    merged = updated.unionByName(inserted)
    return merged.groupBy("c_mktsegment", "was_updated").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("c_custkey").cast("long").alias("min_key"),
        F.max("c_custkey").cast("long").alias("max_key"),
    ).select(
        "c_mktsegment",
        F.col("was_updated").cast("long").alias("change_class"),
        "n_rows",
        "min_key",
        "max_key",
    )


# --- the curation funnel as ONE declarative plan --------------------------
# Entry-point-4's pretraining pipeline (pipelines.py) exists as an
# orchestrated multi-stage run; this query expresses the same funnel —
# quality gate → keep-best exact dedup → PPS sample → per-source token
# budget — as a SINGLE chained plan with per-stage row/token accounting,
# oracle-checked end to end.  Every stage reuses a proven pattern
# (quality score, fingerprint keep-best rank, hash-threshold PPS,
# hash-ordered budget cumsum), so the whole funnel inherits their
# determinism contracts; Catalyst sees one tree and pipelines the
# map-only stages between the three keyed shuffles (fingerprint rank,
# PPS scalar, source budget window).

_PIPE_PPS_RATE = 0.6
_PIPE_BUDGET = 400

_PIPE_SQL = rf"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, text || '  .' AS text
  FROM documents WHERE doc_id % 7 = 0
),
base AS (
  SELECT doc_id, source, text,
         CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         round(least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
               + least(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> list_contains(['the','a','of','to','and','in','is','it'], x)))::DOUBLE
                       / len(regexp_split_to_array(lower(text), '\s+')) * 4, 1.0) * 0.3
               + greatest(1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
                          / length(text) * 10, 0.0) * 0.3, 6) AS q,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
           AS fingerprint,
         {hash60("CAST(doc_id AS VARCHAR)")} AS h
  FROM corpus
),
gated AS (SELECT * FROM base WHERE q >= 0.5),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fingerprint
                                 ORDER BY q DESC, doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(n_chars) AS BIGINT) AS w_total
  FROM deduped
),
sampled AS (
  SELECT d.* FROM deduped d CROSS JOIN tot t
  WHERE CAST(d.h AS DOUBLE) / 1152921504606846976.0
        < least(1.0, {_PIPE_PPS_RATE} * CAST(d.n_chars AS DOUBLE)
                     * CAST(t.n_total AS DOUBLE) / CAST(t.w_total AS DOUBLE))
),
budgeted AS (
  SELECT * FROM (
    SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
    FROM sampled
  ) WHERE cum - n_tokens < {_PIPE_BUDGET}
)
SELECT CAST(1 AS BIGINT) AS stage_order, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM base
UNION ALL SELECT 2, 'quality_gate', CAST(count(*) AS BIGINT),
       CAST(sum(n_tokens) AS BIGINT) FROM gated
UNION ALL SELECT 3, 'dedup_keep_best', CAST(count(*) AS BIGINT),
       CAST(sum(n_tokens) AS BIGINT) FROM deduped
UNION ALL SELECT 4, 'pps_sample', CAST(count(*) AS BIGINT),
       CAST(sum(n_tokens) AS BIGINT) FROM sampled
UNION ALL SELECT 5, 'token_budget', CAST(count(*) AS BIGINT),
       CAST(sum(n_tokens) AS BIGINT) FROM budgeted
"""


@query(
    "pipeline_curation_accounting",
    sql=_PIPE_SQL,
    tags=("curation", "pipeline", "report"),
)
def pipeline_curation_accounting(spark, sf_dir):
    """The four-stage curation funnel (quality gate → keep-best dedup →
    PPS sample → per-source token budget) as one chained plan, reporting
    per-stage doc/token accounting — see block comment."""
    from pyspark.sql import Window

    from ..operators import text as T
    from ..operators.dedup import md5_hash60

    docs = read_table(spark, sf_dir, "documents")
    variants = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.concat(F.col("text"), F.lit("  .")).alias("text"),
    )
    corpus = docs.select("doc_id", "source", "text").unionByName(variants)
    toks = T.ws_tokens(F.col("text"))
    base = corpus.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(T.quality_score(F.col("text"), toks), 6).alias("q"),
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "))
        ).alias("fingerprint"),
        md5_hash60(F.col("doc_id").cast("string")).alias("h"),
    )
    gated = base.where(F.col("q") >= 0.5)
    w_fp = Window.partitionBy("fingerprint").orderBy(F.desc("q"), "doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w_fp))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    tot = deduped.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("n_chars").cast("long").alias("w_total"),
    )
    u = F.col("h").cast("double") / F.lit(1152921504606846976.0)
    p = F.least(
        F.lit(1.0),
        F.lit(_PIPE_PPS_RATE)
        * F.col("n_chars").cast("double")
        * F.col("n_total").cast("double")
        / F.col("w_total").cast("double"),
    )
    sampled = deduped.crossJoin(F.broadcast(tot)).where(u < p)
    w_src = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budgeted = (
        sampled.withColumn("cum", F.sum("n_tokens").over(w_src))
        .where(F.col("cum") - F.col("n_tokens") < _PIPE_BUDGET)
    )

    def acct(order, name, df):
        return df.agg(
            F.lit(order).cast("long").alias("stage_order"),
            F.lit(name).alias("stage"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )

    return (
        acct(1, "raw", base)
        .unionByName(acct(2, "quality_gate", gated))
        .unionByName(acct(3, "dedup_keep_best", deduped))
        .unionByName(acct(4, "pps_sample", sampled))
        .unionByName(acct(5, "token_budget", budgeted))
    )


# --- runtime key-list pushdown (dynamic file/row-group pruning) -----------
# The scale technique behind "dynamic file pruning": when a selective dim
# filter yields a SMALL key set, materialize it (driver-sized collect —
# one month of urgent orders, bounded by _PUSHDOWN_MAX_KEYS) and push the
# IN-list into the fact scan as a data-source filter, so parquet
# row-group min/max stats skip I/O that a plain shuffle/broadcast join
# would still read.  Above the cap, fall back to the broadcast semi-join
# (same result, no driver list).  Because orderkeys are unique in the dim
# table, the exact IN filter IS the semi-join — with an approximate
# filter (bloom) you would keep the exact join after the prefilter.  The
# oracle checks the layout-independent answer via the plain join.

_PUSHDOWN_MAX_KEYS = 100_000

_PUSHDOWN_SQL = """
SELECT l.l_returnflag, l.l_linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
  AND o.o_orderdate >= TIMESTAMP '1995-03-01'
  AND o.o_orderdate < TIMESTAMP '1995-04-01'
GROUP BY l.l_returnflag, l.l_linestatus
"""


@query(
    "layout_runtime_key_pushdown",
    sql=_PUSHDOWN_SQL,
    tags=("layout", "join", "pushdown"),
)
def layout_runtime_key_pushdown(spark, sf_dir):
    """Revenue of lineitems in one month's urgent orders, via a runtime
    IN-list pushed into the fact scan — see block comment."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    dim = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    ).select("o_orderkey")
    keys = [r[0] for r in dim.distinct().collect()]
    if len(keys) <= _PUSHDOWN_MAX_KEYS:
        fact = li.where(F.col("l_orderkey").isin(keys))
    else:  # key set too big to ship — broadcast semi-join fallback
        fact = li.join(
            F.broadcast(dim),
            li.l_orderkey == dim.o_orderkey,
            "left_semi",
        )
    rev = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(18,4)")
    return fact.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(rev).cast("double").alias("revenue"),
    )


# --- referential-integrity audit over the star schema ----------------------
# The DQ primitive every warehouse runs nightly: orphan counts for each
# FK edge.  Scale shape per edge: the child reduces to DISTINCT-KEY
# counts first (map-side combined, key-domain-sized), the parent side
# joins key-to-key, so nothing fact-sized crosses the orphan join; the
# seven edges run as independent branches of one union (one job).  All
# counts exact BIGINTs; one guarded division per edge.

_RI_EDGES = [
    # (fk label,           child,      child key,    parent,     parent key)
    ("lineitem.l_orderkey -> orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey -> customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey -> nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey -> nation.n_nationkey", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey -> region.r_regionkey", "nation", "n_regionkey",
     "region", "r_regionkey"),
]

_RI_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{label}' AS fk,
       CAST(count(*) AS BIGINT) AS n_child_rows,
       CAST(sum(CASE WHEN p.{pkey} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(CAST(sum(CASE WHEN p.{pkey} IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS orphan_share
FROM {child} c LEFT JOIN {parent} p ON c.{ckey} = p.{pkey}
"""
    for label, child, ckey, parent, pkey in _RI_EDGES
)


@query(
    "dq_referential_integrity",
    sql=_RI_SQL,
    tags=("quality", "audit", "join"),
)
def dq_referential_integrity(spark, sf_dir):
    """Orphan-row audit for every FK edge of the star schema — see block
    comment for the distinct-key-counts join shape."""
    out = None
    for label, child, ckey, parent, pkey in _RI_EDGES:
        ch = read_table(spark, sf_dir, child)
        pa = read_table(spark, sf_dir, parent).select(pkey).distinct()
        counts = ch.groupBy(ckey).agg(F.count("*").cast("long").alias("c"))
        j = counts.join(pa, counts[ckey] == pa[pkey], "left")
        orphans = F.sum(
            F.when(F.col(pkey).isNull(), F.col("c")).otherwise(F.lit(0))
        ).cast("long")
        branch = j.agg(
            F.sum("c").cast("long").alias("n_child_rows"),
            orphans.alias("n_orphans"),
        ).select(
            F.lit(label).alias("fk"),
            "n_child_rows",
            "n_orphans",
            F.round(
                F.col("n_orphans").cast("double")
                / F.col("n_child_rows").cast("double"),
                6,
            ).alias("orphan_share"),
        )
        out = branch if out is None else out.unionByName(branch)
    return out


# --- incremental aggregate maintenance (mergeable partials) ----------------
# The 100 TB answer to "the nightly rollup must not rescan history":
# keep the aggregate as MERGEABLE partials (count + exact decimal sum),
# aggregate only the new partition, and merge by re-aggregating the
# union of partial states — associativity makes the merged result
# IDENTICAL to a full recompute, which is exactly what the oracle
# checks (the plain full-scan GROUP BY).  Decimal sums are exact, so
# merge order cannot drift the result; counts are BIGINTs.

_INCR_SPLIT = "1997-01-01"

_INCR_SQL = """
SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
         AS month_key,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY month_key
"""


@query(
    "maintenance_incremental_agg",
    sql=_INCR_SQL,
    tags=("maintenance", "agg"),
)
def maintenance_incremental_agg(spark, sf_dir):
    """Monthly order rollup maintained INCREMENTALLY: partial states from
    the historical partition merge with partials from the new partition
    by re-aggregation — see block comment."""
    orders = read_table(spark, sf_dir, "orders")
    split = F.lit(_INCR_SPLIT).cast("timestamp")
    mk = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")

    def partials(df):
        return df.groupBy(mk.alias("month_key")).agg(
            F.count("*").cast("long").alias("pn"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("ps"),
        )

    base = partials(orders.where(F.col("o_orderdate") < split))
    delta = partials(orders.where(F.col("o_orderdate") >= split))
    return (
        base.unionByName(delta)
        .groupBy("month_key")
        .agg(
            F.sum("pn").cast("long").alias("n_orders"),
            F.sum("ps").cast("double").alias("revenue"),
        )
    )


# --- SCD2 point-in-time ("as was") lookup -----------------------------------
# The read side of SCD2: every event priced against the dimension row
# that was valid AT THE EVENT'S TIMESTAMP, not today's row.  The
# versioned user-tier dimension is built in-plan (standard from Jan 1;
# every 5th user upgrades to premium on Jan 15), so the whole query is
# self-contained and exactly mirrored.  Scale shape: the lookup is an
# EQUI-join on the user key with the validity predicate as a residual
# filter — fan-out is bounded by versions-per-key (2 here; never a range
# join), and the dimension side broadcasts.  A fact row before its key's
# first version finds no row (left-outer would surface it; here T0
# precedes every event).

_PIT_T0 = 1_704_067_200  # 2024-01-01: initial tier load
_PIT_T1 = 1_705_276_800  # 2024-01-15: every 5th user -> premium

_PIT_SQL = f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
dim AS (
  SELECT user_id, 'standard' AS tier,
         CAST({_PIT_T0} AS BIGINT) AS valid_from,
         CAST(CASE WHEN user_id % 5 = 0 THEN {_PIT_T1} END AS BIGINT)
           AS valid_to
  FROM users
  UNION ALL
  SELECT user_id, 'premium' AS tier,
         CAST({_PIT_T1} AS BIGINT) AS valid_from,
         CAST(NULL AS BIGINT) AS valid_to
  FROM users WHERE user_id % 5 = 0
),
pit AS (
  SELECT e.event_type, d.tier,
         CAST(floor(e.value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events e JOIN dim d
    ON e.user_id = d.user_id
   AND CAST(floor(epoch(e.ts)) AS BIGINT) >= d.valid_from
   AND (d.valid_to IS NULL
        OR CAST(floor(epoch(e.ts)) AS BIGINT) < d.valid_to)
)
SELECT tier,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
            AS BIGINT) AS purchase_cents
FROM pit GROUP BY tier
"""


@query(
    "scd2_point_in_time_lookup",
    sql=_PIT_SQL,
    tags=("scd", "join", "temporal"),
)
def scd2_point_in_time_lookup(spark, sf_dir):
    """Events enriched with the user tier valid at each event's timestamp
    (as-was SCD2 lookup), rolled up per tier — see block comment."""
    ev = read_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    std = users.select(
        "user_id",
        F.lit("standard").alias("tier"),
        F.lit(_PIT_T0).cast("long").alias("valid_from"),
        F.when(F.col("user_id") % 5 == 0, F.lit(_PIT_T1))
        .cast("long")
        .alias("valid_to"),
    )
    prem = users.where(F.col("user_id") % 5 == 0).select(
        "user_id",
        F.lit("premium").alias("tier"),
        F.lit(_PIT_T1).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    dim = std.unionByName(prem)
    ts_epoch = F.unix_timestamp(F.col("ts")).cast("long")
    pit = ev.join(
        F.broadcast(dim),
        (ev.user_id == dim.user_id)
        & (ts_epoch >= dim.valid_from)
        & (dim.valid_to.isNull() | (ts_epoch < dim.valid_to)),
    )
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    return pit.groupBy("tier").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("purchase_cents"),
    )


# --- cross-table revenue reconciliation (finance-close audit) ---------------
# orders.o_totalprice SHOULD equal the order's lineitem charge total
# (ext x (1-disc) x (1+tax)); the monthly reconciliation quantifies the
# books' drift — the audit every warehouse runs at close.  Integer-exact
# on both sides: the charge product rides the Q1 cent-grid trick
# (ext_c x (100-disc_c) x (100+tax_c), exact BIGINT), order totals are
# plain cents; both reduce per month and meet in ONE month-key join.
# (This synthetic fixture draws the two tables independently, so the
# discrepancy is large — which is exactly what the audit is for.)

_RECON_SQL = """
WITH li AS (
  SELECT l.l_orderkey,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
           * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))
           * (100 + CAST(floor(l.l_tax * 100 + 0.5) AS BIGINT)) AS charge_u
  FROM lineitem l
),
li_m AS (
  SELECT CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           AS month_key,
         CAST(sum(li.charge_u) AS BIGINT) AS charge_u
  FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
  GROUP BY month_key
),
ord_m AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
           AS month_key,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS total_c
  FROM orders GROUP BY month_key
)
SELECT o.month_key,
       round(CAST(o.total_c AS DOUBLE) / 100.0, 6) AS orders_total,
       round(CAST(l.charge_u AS DOUBLE) / 1000000.0, 6) AS lineitem_charge,
       CASE WHEN o.total_c > 0
            THEN round((CAST(l.charge_u AS DOUBLE) / 1000000.0
                        - CAST(o.total_c AS DOUBLE) / 100.0)
                       / (CAST(o.total_c AS DOUBLE) / 100.0), 6)
       END AS rel_diff
FROM ord_m o JOIN li_m l ON o.month_key = l.month_key
"""


@query(
    "dq_revenue_reconciliation",
    sql=_RECON_SQL,
    tags=("quality", "audit", "join"),
)
def dq_revenue_reconciliation(spark, sf_dir):
    """Monthly orders-vs-lineitem revenue reconciliation — see block
    comment."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    c = lambda col: F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    charge_u = c("l_extendedprice") * (100 - c("l_discount")) * (
        100 + c("l_tax")
    )
    mk = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    li_m = (
        li.select("l_orderkey", charge_u.alias("charge_u"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(mk.alias("month_key"))
        .agg(F.sum("charge_u").cast("long").alias("charge_u"))
    )
    ord_m = orders.groupBy(mk.alias("month_key")).agg(
        F.sum(c("o_totalprice")).cast("long").alias("total_c")
    )
    j = ord_m.join(li_m, "month_key")
    ot = F.col("total_c").cast("double") / 100.0
    lc = F.col("charge_u").cast("double") / 1000000.0
    return j.select(
        "month_key",
        F.round(ot, 6).alias("orders_total"),
        F.round(lc, 6).alias("lineitem_charge"),
        F.when(F.col("total_c") > 0, F.round((lc - ot) / ot, 6)).alias(
            "rel_diff"
        ),
    )


# --- k-anonymity audit (privacy gate) ----------------------------------------
# Before any customer slice ships to analytics or training, the privacy
# question: how many people are re-identifiable because their
# quasi-identifier combination (nation x segment x balance sign) is
# rare?  One QI rollup (map-side combined, class-domain-sized), one
# summary row: classes and rows below k=5, the minimum class size, and
# the exposed-row share.  Everything exact integers but the one share.

_KANON_K = 5

_KANON_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(c_acctbal < 0 AS BIGINT) AS neg_balance,
         CAST(count(*) AS BIGINT) AS c
  FROM customer GROUP BY c_nationkey, c_mktsegment, neg_balance
)
SELECT CAST({_KANON_K} AS BIGINT) AS k,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(c) AS BIGINT) AS min_class_size,
       CAST(sum(CASE WHEN c < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_below_k,
       CAST(sum(CASE WHEN c < {_KANON_K} THEN c ELSE 0 END) AS BIGINT)
         AS n_rows_below_k,
       round(CAST(sum(CASE WHEN c < {_KANON_K} THEN c ELSE 0 END) AS DOUBLE)
             / CAST(sum(c) AS DOUBLE), 6) AS row_share_below_k
FROM classes
"""


@query(
    "privacy_k_anonymity",
    sql=_KANON_SQL,
    tags=("quality", "audit", "privacy"),
)
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity audit of the customer quasi-identifiers — see block
    comment."""
    cust = read_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_acctbal") < 0).cast("long").alias("neg_balance"),
    ).agg(F.count("*").cast("long").alias("c"))
    below = F.col("c") < _KANON_K
    return classes.agg(
        F.lit(_KANON_K).cast("long").alias("k"),
        F.sum("c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_classes"),
        F.min("c").cast("long").alias("min_class_size"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long").alias(
            "n_classes_below_k"
        ),
        F.sum(F.when(below, F.col("c")).otherwise(0)).cast("long").alias(
            "n_rows_below_k"
        ),
        F.round(
            F.sum(F.when(below, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c").cast("double"),
            6,
        ).alias("row_share_below_k"),
    )


# --- l-diversity audit (privacy gate, sensitive-attribute sibling) -----------
# k-anonymity (above) only counts rows per quasi-identifier class; a
# class can be large yet still leak if every member shares one sensitive
# value (the homogeneity attack).  Distinct l-diversity is the standard
# follow-up audit (Machanavajjhala et al., ICDE 2006): within each QI
# class (nation x segment), how many DISTINCT sensitive values (account-
# balance band of 1000 currency units) appear?  Classes with fewer than
# l = 3 distinct bands expose their members' balance range.
#
# Determinism: the sensitive band uses the portable cents quantizer
# (floor(x*100 + 0.5) -> BIGINT, docs/determinism.md) then one IEEE
# double division by 100000.0 and floor — identical bit-level fold on
# both engines, negative balances included (floor, not truncate).  Two
# map-side-combined aggregates (cells -> classes), both bounded by the
# QI x band domain, then one summary row — the same 100 TB shape as the
# k-anonymity audit: nothing row-cardinality-sized ever shuffles twice.

_LDIV_L = 3

_LDIV_SQL = f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                    / 100000.0) AS BIGINT) AS bal_band,
         CAST(count(*) AS BIGINT) AS c
  FROM customer GROUP BY 1, 2, 3
),
classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS l_distinct,
         CAST(sum(c) AS BIGINT) AS n_rows
  FROM cells GROUP BY 1, 2
)
SELECT CAST({_LDIV_L} AS BIGINT) AS l,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(l_distinct) AS BIGINT) AS min_l,
       CAST(sum(CASE WHEN l_distinct < {_LDIV_L} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_classes_below_l,
       CAST(sum(CASE WHEN l_distinct < {_LDIV_L} THEN n_rows ELSE 0 END)
            AS BIGINT) AS n_rows_below_l,
       round(CAST(sum(CASE WHEN l_distinct < {_LDIV_L} THEN n_rows ELSE 0 END)
                  AS DOUBLE) / CAST(sum(n_rows) AS DOUBLE), 6)
         AS row_share_below_l
FROM classes
"""


@query(
    "privacy_l_diversity",
    sql=_LDIV_SQL,
    tags=("quality", "audit", "privacy"),
)
def privacy_l_diversity(spark, sf_dir):
    """Distinct l-diversity audit of the customer sensitive attribute
    (balance band) within quasi-identifier classes — the homogeneity-
    attack complement to privacy_k_anonymity; see block comment."""
    cust = read_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    band = F.floor(cents / F.lit(100000.0)).cast("long")
    cells = cust.groupBy(
        "c_nationkey", "c_mktsegment", band.alias("bal_band")
    ).agg(F.count("*").cast("long").alias("c"))
    classes = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("l_distinct"),
        F.sum("c").cast("long").alias("n_rows"),
    )
    below = F.col("l_distinct") < _LDIV_L
    return classes.agg(
        F.lit(_LDIV_L).cast("long").alias("l"),
        F.count("*").cast("long").alias("n_classes"),
        F.min("l_distinct").cast("long").alias("min_l"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long").alias(
            "n_classes_below_l"
        ),
        F.sum(F.when(below, F.col("n_rows")).otherwise(0)).cast("long").alias(
            "n_rows_below_l"
        ),
        F.round(
            F.sum(F.when(below, F.col("n_rows")).otherwise(0)).cast("double")
            / F.sum("n_rows").cast("double"),
            6,
        ).alias("row_share_below_l"),
    )


# --- bot-regularity detection (inter-event timing audit) ---------------------
# Humans arrive with bursty gaps (coefficient of variation ~= 1 for
# Poisson-ish traffic); schedulers and scrapers tick with cv near 0.
# One user-keyed lag window produces exact integer second gaps, exact
# BIGINT gap moments give mean/cv per user, and users with >= 5 gaps and
# cv < 0.2 are flagged.  The corpus is touched by ONE keyed window +
# ONE keyed aggregate; output is user-cardinality.

_BOT_SQL = """
WITH gaps AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
              PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS g
  FROM events
),
mom AS (
  SELECT user_id,
         CAST(count(g) AS BIGINT) AS n_gaps,
         CAST(sum(g) AS BIGINT) AS s,
         CAST(sum(g * g) AS BIGINT) AS sq
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
)
SELECT user_id, n_gaps,
       round(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS mean_gap_sec,
       CASE WHEN n_gaps > 1 AND s > 0
            THEN round(sqrt((CAST(sq AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                               / CAST(n_gaps AS DOUBLE))
                            / (CAST(n_gaps AS DOUBLE) - 1.0))
                       / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 6)
       END AS cv_gap,
       CAST(CASE WHEN n_gaps >= 5 AND s > 0
                  AND (CAST(sq AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n_gaps AS DOUBLE)) >= 0.0
                 THEN sqrt((CAST(sq AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                              / CAST(n_gaps AS DOUBLE))
                           / (CAST(n_gaps AS DOUBLE) - 1.0))
                      / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) < 0.2
                 ELSE FALSE END AS BOOLEAN) AS is_suspect
FROM mom
"""


@query(
    "quality_bot_regularity",
    sql=_BOT_SQL,
    tags=("quality", "audit", "timeseries"),
)
def quality_bot_regularity(spark, sf_dir):
    """Per-user inter-event timing regularity (bot detector) — see block
    comment."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        )
        .cast("long")
        .alias("g"),
    )
    mom = gaps.where(F.col("g").isNotNull()).groupBy("user_id").agg(
        F.count("g").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("sq"),
    )
    nd = F.col("n_gaps").cast("double")
    sd_, sqd = F.col("s").cast("double"), F.col("sq").cast("double")
    ssq = sqd - sd_ * sd_ / nd
    mean = sd_ / nd
    cv = F.sqrt(ssq / (nd - F.lit(1.0))) / mean
    ok = (F.col("n_gaps") > 1) & (F.col("s") > 0)
    return mom.select(
        "user_id",
        "n_gaps",
        F.round(mean, 6).alias("mean_gap_sec"),
        F.when(ok, F.round(cv, 6)).alias("cv_gap"),
        F.when(
            (F.col("n_gaps") >= 5) & (F.col("s") > 0) & (ssq >= 0.0),
            cv < 0.2,
        )
        .otherwise(F.lit(False))
        .alias("is_suspect"),
    )


# --- Neyman (optimal) sampling allocation -------------------------------------
# Sampling theory's answer to "how many eval docs per source?": allocate
# the budget proportional to N_h * sigma_h (stratum size x length
# stddev), which minimizes the variance of the estimated mean at fixed
# total n.  Moments are exact BIGINT sums; sigma and the shares are one
# shared double expression; the integer allocation floors share x budget
# (the <=H-doc remainder is the documented rounding loss, same ppm rule
# as position-weighted attribution).

_NEYMAN_BUDGET = 1000

_NEYMAN_SQL = f"""
WITH mom AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS s,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS sq
  FROM documents GROUP BY source
),
sig AS (
  SELECT source, n_docs,
         CASE WHEN n_docs > 1
              THEN sqrt((CAST(sq AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           / CAST(n_docs AS DOUBLE))
                        / (CAST(n_docs AS DOUBLE) - 1.0))
              ELSE 0.0 END AS sigma
  FROM mom
),
tot AS (
  SELECT CAST(sum(CAST(n_docs AS DOUBLE) * sigma) AS DOUBLE) AS z FROM sig
)
SELECT s.source, s.n_docs,
       round(s.sigma, 6) AS sigma_chars,
       CASE WHEN t.z > 0.0
            THEN round(CAST(s.n_docs AS DOUBLE) * s.sigma / t.z, 6)
       END AS neyman_share,
       CAST(CASE WHEN t.z > 0.0
                 THEN floor(CAST(s.n_docs AS DOUBLE) * s.sigma / t.z
                            * {_NEYMAN_BUDGET})
                 ELSE 0 END AS BIGINT) AS alloc_n
FROM sig s CROSS JOIN tot t
"""


@query(
    "sample_neyman_allocation",
    sql=_NEYMAN_SQL,
    tags=("curation", "sampling", "stats"),
)
def sample_neyman_allocation(spark, sf_dir):
    """Variance-optimal per-source sample allocation (Neyman) for a
    1000-doc budget — see block comment."""
    docs = read_table(spark, sf_dir, "documents")
    mom = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sq"),
    )
    nd = F.col("n_docs").cast("double")
    ssq = F.col("sq").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ).cast("double") / nd
    sigma = F.when(
        F.col("n_docs") > 1, F.sqrt(ssq / (nd - F.lit(1.0)))
    ).otherwise(F.lit(0.0))
    sig = mom.select("source", "n_docs", sigma.alias("sigma"))
    tot = sig.agg(
        F.sum(F.col("n_docs").cast("double") * F.col("sigma"))
        .cast("double")
        .alias("z")
    )
    share = F.col("n_docs").cast("double") * F.col("sigma") / F.col("z")
    return sig.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round("sigma", 6).alias("sigma_chars"),
        F.when(F.col("z") > 0.0, F.round(share, 6)).alias("neyman_share"),
        F.when(F.col("z") > 0.0, F.floor(share * _NEYMAN_BUDGET))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("alloc_n"),
    )


# --- duplication rate by quality band ---------------------------------------
# Curation insight query: ARE low-quality documents more duplicated?
# (In web corpora they overwhelmingly are — boilerplate, SEO spam, error
# pages — so dedup and quality filtering overlap, and their joint budget
# effect should be measured, not assumed.)  Composes the exact-fingerprint
# dedup key with the heuristic quality score: per quality band
# (floor(q*10), capped to 9), the share of docs whose fingerprint occurs
# >= 2x in the corpus.  Fixture plants whitespace variants of every 7th
# doc (same roles as dedup_exact_fingerprint).  One fingerprint window +
# one band aggregate; everything map-side before the two keyed exchanges.

_DUP_BY_QUALITY_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || '  .' AS text
  FROM documents WHERE doc_id % 7 = 0
),
scored AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
           AS fingerprint,
         round(least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
               + least(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> list_contains(['the','a','of','to','and','in','is','it'], x)))::DOUBLE
                       / len(regexp_split_to_array(lower(text), '\\s+')) * 4, 1.0) * 0.3
               + greatest(1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
                          / length(text) * 10, 0.0) * 0.3, 6) AS q
  FROM corpus
),
flagged AS (
  SELECT doc_id, q,
         CAST(least(floor(q * 10.0), 9.0) AS BIGINT) AS band,
         count(*) OVER (PARTITION BY fingerprint) >= 2 AS is_dup
  FROM scored
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN is_dup THEN 1 END) AS BIGINT) AS n_dups,
       round(CAST(count(CASE WHEN is_dup THEN 1 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS dup_share,
       round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS avg_quality
FROM flagged GROUP BY band
"""


@query(
    "curation_dup_rate_by_quality_band",
    sql=_DUP_BY_QUALITY_SQL,
    tags=("curation", "dedup", "quality"),
)
def curation_dup_rate_by_quality_band(spark, sf_dir):
    """Duplication rate per quality band — see block comment."""
    from pyspark.sql import Window

    from ..operators.text import normalized_fingerprint, quality_score, ws_tokens

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("  .")).alias("text"),
    )
    corpus = docs.unionByName(variants)
    scored = corpus.select(
        "doc_id",
        normalized_fingerprint(F.col("text")).alias("fingerprint"),
        F.round(
            quality_score(F.col("text"), ws_tokens(F.col("text"))), 6
        ).alias("q"),
    )
    flagged = scored.select(
        "q",
        F.least(F.floor(F.col("q") * 10.0), F.lit(9.0))
        .cast("long")
        .alias("band"),
        (F.count("*").over(Window.partitionBy("fingerprint")) >= 2).alias(
            "is_dup"
        ),
    )
    dup = F.count(F.when(F.col("is_dup"), 1))
    return flagged.groupBy("band").agg(
        F.count("*").cast("long").alias("n_docs"),
        dup.cast("long").alias("n_dups"),
        F.round(dup.cast("double") / F.count("*").cast("double"), 6).alias(
            "dup_share"
        ),
        F.round(
            F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("avg_quality"),
    )
