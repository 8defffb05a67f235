#!/usr/bin/env python
"""Round-14 sf1 revisit of the two r13 probe rejections (verdict item 4):

q138 bigram-LM: three tokenize+explode passes over x vs
  (B) checkpointed per-(doc, prev, pair) multiplicity table (the r13
      rejected shape, re-measured at sf1), and
  (C) a plain lazy checkpoint of the exploded bigram stream x itself.
q157 substring removal: gd deliberately uncached (r13) vs
  (D) tagged dual-slot persist of gd + covered (the r13 rejected shape).

Usage: python plans/r14/probe_q138_q157.py [equiv|ab] [sf_dir]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from pyspark.sql import functions as F  # noqa: E402


def _x(spark, sf_dir):
    from etl_procesos_odo_spark.llm.text_analysis import tokens
    from etl_procesos_odo_spark.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    g2 = F.zip_with(
        F.slice(F.col("w"), 1, n1),
        F.slice(F.col("w"), 2, n1),
        lambda a, b: F.struct(a.alias("prev"), F.concat_ws(" ", a, b).alias("pair")),
    )
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(g2).alias("g"))
        .select("doc_id", F.col("g.prev").alias("prev"), F.col("g.pair").alias("pair"))
    )


def _finish(cond_weighted):
    """cond_weighted: (doc_id, c, k) — k copies of conditional c."""
    return cond_weighted.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_bigrams"),
        (
            F.sum(F.col("c") * F.col("k")).cast("double")
            / (F.sum("k").cast("double") * F.lit(1e12))
        ).alias("score"),
    )


def q138_variant_b(spark, sf_dir):
    """Multiplicity table (doc, prev, pair, k), checkpointed once."""
    m = (
        _x(spark, sf_dir)
        .groupBy("doc_id", "prev", "pair")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=True)
    )
    pc = m.groupBy("pair").agg(F.sum("k").alias("pcnt"))
    pf = m.groupBy("prev").agg(F.sum("k").alias("fcnt"))
    cond = (
        m.join(pc, on="pair").join(pf, on="prev")
        .select(
            "doc_id", "k",
            F.round(
                F.col("pcnt").cast("double") / F.col("fcnt").cast("double")
                * 1e12
            ).cast("long").alias("c"),
        )
    )
    return _finish(cond)


def q138_variant_c(spark, sf_dir):
    """Plain eager checkpoint of the exploded bigram stream x: one
    tokenize pass feeds pc, pf AND the cond join (3 -> 1)."""
    x = _x(spark, sf_dir).localCheckpoint(eager=True)
    pc = x.groupBy("pair").agg(F.count(F.lit(1)).alias("pcnt"))
    pf = x.groupBy("prev").agg(F.count(F.lit(1)).alias("fcnt"))
    cond = (
        x.join(pc, on="pair").join(pf, on="prev")
        .select(
            "doc_id", F.lit(1).alias("k"),
            F.round(
                F.col("pcnt").cast("double") / F.col("fcnt").cast("double")
                * 1e12
            ).cast("long").alias("c"),
        )
    )
    return _finish(cond)


def q157_variant_d(spark, sf_dir):
    """remove_duplicated_grams materialising both gd AND covered (the
    r13-rejected shape, re-measured at sf1)."""
    from pyspark.sql import Window

    from etl_procesos_odo_spark.llm.dedup import ngrams_all
    from etl_procesos_odo_spark.llm.text_analysis import tokens
    from etl_procesos_odo_spark.registry import load_table
    from etl_procesos_odo_spark.session import materialize
    from etl_procesos_odo_spark.session import spread_small_input as _spread

    df, text_col, id_col, k, min_count = (
        load_table(spark, sf_dir, "documents"), "text", "doc_id", 5, 2)
    words = tokens(F.col(text_col))
    toks = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.posexplode(words).alias("wpos", "word"))
    g = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ngrams_all(F.col(text_col), k)).alias("pos", "gram"))
    gd = materialize(
        g.groupBy("gram", "doc_id").agg(F.count("*").alias("m")))
    dup_keys = (
        gd.groupBy("gram").agg(F.sum("m").alias("tot"))
        .filter(F.col("tot") >= min_count).select("gram"))
    starts = g.join(dup_keys, on="gram", how="leftsemi")
    covered = (
        starts.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("wpos"))
        .distinct())
    covered = materialize(covered)
    win = Window.partitionBy("doc_id").orderBy("wpos")
    spans = (
        covered.withColumn(
            "_new",
            F.when(F.col("wpos") - F.lag("wpos", 1).over(win) == 1, F.lit(0))
            .otherwise(F.lit(1)))
        .groupBy("doc_id")
        .agg(F.sum("_new").cast("long").alias("n_spans"),
             F.count(F.lit(1)).cast("long").alias("n_removed")))
    kept = toks.join(covered, on=["doc_id", "wpos"], how="left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("wpos", "word"))),
                lambda s: s["word"])).alias("text_clean"))
    return (
        _spread(df)
        .select(F.col(id_col).alias("doc_id"),
                F.size(words).cast("long").alias("n_words"))
        .join(spans, on="doc_id", how="left")
        .join(rebuilt, on="doc_id", how="left")
        .select(
            "doc_id", "n_words",
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "equiv"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from etl_procesos_odo_spark.registry import registry
    from etl_procesos_odo_spark.session import get_spark

    spark = get_spark("r14-q138-q157-probe")
    by_name = {q.name: q for q in registry()}
    base138 = by_name["q138_bigram_lm_score"].spark_fn
    base157 = by_name["q157_substring_removal"].spark_fn

    if mode == "equiv":
        for tag, base_fn, var_fn in (
            ("q138_b", base138, q138_variant_b),
            ("q138_c", base138, q138_variant_c),
            ("q157_d", base157, q157_variant_d),
        ):
            b = sorted(tuple(r) for r in base_fn(spark, sf_dir).collect())
            v = sorted(tuple(r) for r in var_fn(spark, sf_dir).collect())
            assert b == v, f"{tag} MISMATCH {len(b)} vs {len(v)}"
            print(json.dumps({"equiv": tag, "rows": len(b)}), flush=True)
    else:
        arms = {
            "q138_base": base138, "q138_b": q138_variant_b,
            "q138_c": q138_variant_c,
            "q157_base": base157, "q157_d": q157_variant_d,
        }
        res = {}
        for rep in range(2):
            for tag, fn in arms.items():
                spark.sparkContext.setJobDescription(f"{tag}-rep{rep}")
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                res.setdefault(tag, []).append(round(time.perf_counter() - t0, 3))
        print(json.dumps({"ab": res, "sf_dir": sf_dir,
                          "mins": {t: min(v) for t, v in res.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
