"""Sequence assembly for training pipelines: packing documents into
fixed token-budget training sequences, and chunking long documents into
overlapping context windows.

Scale design
------------
- **Packing** is inherently order-dependent (a document's pack depends on
  every document before it), so the scalable form is *stratum-local*:
  a deterministic order within bounded strata (language, source, or a
  hash stripe — the partitioner's stripe pattern composes here for
  unbounded key spaces), one window cumulative sum per stratum, no
  global serial pass.
- **Chunking** is embarrassingly parallel: tokenize once, explode one
  row per chunk — per-row expressions at scan speed, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize
from .text_analysis import token_count_ws, tokens


def pack_sequences(
    df: DataFrame,
    id_col: str,
    budget: int,
    strata_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Assign each document to a fixed token-budget training sequence:
    documents are laid out in deterministic ``id_col`` order within each
    stratum and the pack boundary falls at every ``budget`` cumulative
    tokens — ``pack_id = cum_tokens_before // budget`` (a document
    spanning a boundary belongs to the pack where it starts).

    Returns (id, stratum, n_tokens, pack_id, offset_in_pack). The window
    runs per stratum: strata must be bounded in size (language/source
    buckets, or compose with a hash-stripe column for arbitrary volume —
    the same two-pass trick operators/partitioner.py uses)."""
    t = df.select(
        F.col(id_col),
        F.col(strata_col),
        token_count_ws(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy(strata_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias(
        "cum_before"
    )
    s = t.select(id_col, strata_col, "n_tokens", cum_before)
    return s.select(
        id_col,
        strata_col,
        "n_tokens",
        F.floor(F.col("cum_before") / budget).cast("long").alias("pack_id"),
        (F.col("cum_before") % budget).cast("long").alias("offset_in_pack"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document's token stream into overlapping context-window
    chunks (stride = chunk_tokens - overlap), one output row per chunk:
    (id, chunk_idx, n_chunk_tokens, chunk_text). Empty documents produce
    no chunks; the final chunk may be short. Tokenize-once + explode —
    scan-speed, no shuffle."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    w = tokens(F.col(text_col))
    n = F.size(w)
    # number of chunks: 1 + ceil(max(n - chunk, 0) / stride), exact in
    # double for any realistic document length
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(n - chunk_tokens, F.lit(0)) + F.lit(stride - 1))
            / F.lit(stride)
        )
    ).cast("int")
    base = df.select(F.col(id_col), w.alias("_w"), n_chunks.alias("_nc")).filter(
        F.size("_w") > 0
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.col("_nc") - 1),
            lambda i: F.struct(
                i.cast("long").alias("idx"),
                F.slice(F.col("_w"), i * stride + 1, chunk_tokens).alias("toks"),
            ),
        )
    )
    return base.select(F.col(id_col), chunk.alias("c")).select(
        id_col,
        F.col("c.idx").alias("chunk_idx"),
        F.size("c.toks").cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", "c.toks").alias("chunk_text"),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 4,
    divisor: int = 16,
    hash_mod: int = 32768,
) -> DataFrame:
    """Content-defined chunking (the storage-dedup discipline: Muthitacharoen
    et al., LBFS SOSP'01; Rabin fingerprint boundaries): cut a chunk
    wherever the rolling hash of the last ``window`` tokens is 0 mod
    ``divisor``, so boundaries are a function of LOCAL CONTENT, not
    position. Unlike fixed-stride chunking (:func:`chunk_documents`),
    inserting or deleting one token only re-cuts the chunks that
    physically contain the edit — every later chunk keeps its identity,
    which is what makes chunk-level dedup/delta-sync of revised corpora
    work (a one-line edit under fixed stride shifts and invalidates
    every subsequent chunk).

    Deterministic and engine-portable: per-token 15-bit md5-based
    hashes (``hash60 % hash_mod``), window hash = base-``hash_mod``
    polynomial of the last ``window`` token hashes — pure BIGINT
    arithmetic (< 2^60 for window=4, no overflow under ANSI mode), the
    same expressions a SQL oracle evaluates verbatim. Expected chunk
    length is ``divisor`` tokens; documents shorter than ``window``
    tokens form one chunk.

    Everything is array-side per-row work: tokenize once, rolling hash
    via chained ``zip_with`` over shifted slices (the codegen-friendly
    spelling — index-lambda ``transform(sequence(...))`` falls out of
    whole-stage codegen), boundary positions by filtered
    index-transform, chunk ranges by zipping the shifted boundary list,
    ONE explode of the final chunk structs. No shuffle, no window
    functions — scan speed, embarrassingly parallel at any corpus size.
    """
    if window != 4:
        raise NotImplementedError(
            "rolling polynomial is unrolled for window=4 (degree fixed so "
            "the magnitude bound 2^60 is static)"
        )
    if hash_mod * (hash_mod ** 3) >= 2 ** 62:
        raise ValueError("hash_mod^4 must stay inside BIGINT")
    from ..session import spread_small_input
    from .dedup import hash60

    B = F.lit(hash_mod)
    w = tokens(F.col(text_col))
    # per-token md5 is the expensive part — spread a sub-parallel scan
    # (single small parquet file) across cores first; no-op at scale
    # (measured: 27.5 s -> 3.1 s at 50k docs on a 2-partition file)
    base = spread_small_input(df).select(
        F.col(id_col), w.alias("_w")
    ).filter(F.size("_w") > 0)
    hs = F.transform(F.col("_w"), lambda t: hash60(t) % B)
    n = F.size("_w")
    m = F.greatest(n - F.lit(window - 1), F.lit(0))
    s1 = F.slice(hs, 1, m)
    s2 = F.slice(hs, 2, m)
    s3 = F.slice(hs, 3, m)
    s4 = F.slice(hs, 4, m)
    roll = F.zip_with(
        F.zip_with(
            F.zip_with(s1, s2, lambda a, b: a * B + b),
            s3,
            lambda a, b: a * B + b,
        ),
        s4,
        lambda a, b: a * B + b,
    )
    # 1-based token position j of each window end: j = idx + window
    bpos = F.filter(
        F.transform(
            roll,
            lambda x, i: F.when(
                x % divisor == 0, i + F.lit(window)
            ).otherwise(F.lit(-1)),
        ),
        lambda p: p > 0,
    )
    starts = F.concat(
        F.array(F.lit(1)), F.transform(bpos, lambda p: p + 1)
    )
    ends = F.concat(bpos, F.array(n))
    chunks = F.transform(
        F.zip_with(
            starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
        ),
        lambda p, i: F.struct(
            i.cast("long").alias("chunk_id"),
            p["s"].alias("s"),
            p["e"].alias("e"),
        ),
    )
    # s > e only for the appended tail when the last token is itself a
    # boundary (empty final chunk) — dropped; chunk ids stay contiguous
    # because that can only happen at the last element
    out = base.select(
        F.col(id_col),
        F.col("_w"),
        F.explode(F.filter(chunks, lambda c: c["s"] <= c["e"])).alias("c"),
    )
    return out.select(
        id_col,
        F.col("c.chunk_id").alias("chunk_id"),
        (F.col("c.e") - F.col("c.s") + 1).cast("long").alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("_w"), F.col("c.s"), F.col("c.e") - F.col("c.s") + 1),
            " ",
        ).alias("chunk_text"),
    )


def interleave_order(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    salt: str = "il1",
    seq_stripes: int = 256,
) -> DataFrame:
    """Deterministic proportional interleave — the global training-data
    ordering step: shuffle each stratum (source/language) by a content
    hash, then stride-merge the strata so every prefix of the stream
    carries approximately the corpus mix (a doc ranked r of n in its
    stratum lands at position key (r - 1/2) / n in [0, 1]). Any prefix
    of length L then holds between floor(L·n_s/N) - 1 and
    ceil(L·n_s/N) + 1 docs of each stratum s — the curriculum/mixing
    guarantee batch-local random shuffles do NOT give (a random order
    leaves Θ(sqrt(L)) mix drift; stride interleave caps it at 1).

    No single-reducer pass at any step: the within-stratum shuffle rank
    is computed per (stratum, hash-stripe) window + tiny offset table
    (the q50 `_striped_global_rank` pattern, md5-hash-keyed so the
    order is engine-portable); the GLOBAL sequence number uses the same
    two-phase trick striped by ``floor(pos_key * seq_stripes)`` —
    monotone in pos_key, so local ranks + a ≤ ``seq_stripes``-row
    offset table compose to the exact global rank. At 100 TB the export
    writes with ``repartitionByRange(pos_key)`` + per-file local sort;
    the seq/stripe machinery here also hands each doc its shard.

    Returns one row per doc: stratum, id, ``r_src``/``n_src`` (rank and
    size within stratum), ``pos_key`` (double — exact (r - 0.5)/n, one
    correctly-rounded division), ``seq`` (1-based global position).
    """
    from .dedup import hash60

    # within-stratum rank by (hash, id): striped local windows + offsets
    keyed = df.select(
        F.col(stratum_col).alias("stratum"), F.col(id_col).alias("id")
    ).withColumn(
        "_h", hash60(F.concat(F.lit(salt), F.col("id").cast("string")))
    ).withColumn(
        "_st", F.shiftright(F.col("_h"), 52)
    )
    wl = Window.partitionBy("stratum", "_st").orderBy("_h", "id")
    wp = Window.partitionBy("stratum", "_st")
    local = keyed.withColumn("_lrk", F.row_number().over(wl)).withColumn(
        "_c", F.count("*").over(wp)
    )
    cnts = local.filter(F.col("_lrk") == 1).select("stratum", "_st", "_c")
    w_off = (
        Window.partitionBy("stratum")
        .orderBy("_st")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cnts.select(
        "stratum",
        "_st",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(Window.partitionBy("stratum")).alias("n_src"),
    )
    ranked = (
        local.join(F.broadcast(offs), ["stratum", "_st"])
        .withColumn("r_src", (F.col("_off") + F.col("_lrk")).cast("long"))
        .select(
            "stratum", "id", "r_src", F.col("n_src").cast("long").alias("n_src")
        )
        .withColumn(
            "pos_key",
            F.expr("(cast(r_src as double) - 0.5e0) / cast(n_src as double)"),
        )
        # one narrow row per doc, consumed by the global-seq local-rank
        # branch, its offset-table branch, and the final join;
        # unmaterialized each consumer re-runs the scan + the striped
        # within-stratum window (measured 4 scans). ~40 B/row — at
        # cluster scale this is persist(MEMORY_AND_DISK) territory, in
        # a single JVM an eager checkpoint; either way cache bytes beat
        # three recomputes of the rank subtree.
        .transform(materialize, eager=True)
    )
    # global sequence: same two-phase rank, striped monotonically in the
    # position key (pos_key in (0, 1) by construction)
    g = ranked.withColumn(
        "_gs", F.expr(f"cast(floor(pos_key * {seq_stripes}e0) as int)")
    )
    wgl = Window.partitionBy("_gs").orderBy("pos_key", "stratum", "id")
    wgp = Window.partitionBy("_gs")
    glocal = g.withColumn("_glrk", F.row_number().over(wgl)).withColumn(
        "_gc", F.count("*").over(wgp)
    )
    gcnts = glocal.filter(F.col("_glrk") == 1).select("_gs", "_gc")
    w_goff = (
        Window.partitionBy(F.lit(1))
        .orderBy("_gs")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    goffs = gcnts.select(
        "_gs", F.coalesce(F.sum("_gc").over(w_goff), F.lit(0)).alias("_goff")
    )
    return (
        glocal.join(F.broadcast(goffs), "_gs")
        .withColumn("seq", (F.col("_goff") + F.col("_glrk")).cast("long"))
        .select("stratum", "id", "r_src", "n_src", "pos_key", "seq")
    )
