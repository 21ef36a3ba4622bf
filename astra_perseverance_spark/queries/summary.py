"""Q20 proper: the nested ``summary.json`` as one canonical string.

Reference assembly: explore.py:578-586 (init), 1718-1790 (workload +
dataset_size fill), 1851-1854 (json.dump).  Structure:

    {"avg_uptime_u6": ...,                    # engine addition (SURVEY §2.10)
     "dataset_size": {"total_u6": ..., ks: {tbl: {"size_u6": ...}}},
     "missing_data": 0|1,
     "warnings": {category: {check: [msg, ...]}},
     "workload": {
        "total_read_per_u6": ..., "total_read_tps_u6": ...,
        "total_write_per_u6": ..., "total_write_tps_u6": ...,
        ks: {tbl: {"read":  {"avg_tps_u6", "perc_read_u6", "perc_rw_u6", "read_req_u6"},
                   "write": {"avg_tps_u6", "perc_rw_u6", "perc_write_u6", "write_req_u6"}}}}}

CANONICALIZATION (declared, engine-portable):
- keys sorted lexicographically at every level; arrays sorted;
- every float is encoded as a micro-unit integer (``_u6`` suffix):
  ``floor(x·10⁶ + 0.5)`` — one fixed IEEE expression both engines
  evaluate identically.  Engine-side ``%f`` formatting is deliberately
  avoided: Java's ``format_string`` rounds decimal-HALF_UP while C
  printf rounds the exact binary value, and the engine's dyadic values
  (model.py determinism rules) can land exactly on ``…5`` ties where
  the two differ;
- only non-empty warning checks/categories appear (the reference
  serializes pre-created empty lists — presentation noise, declared
  out of canon);
- sides missing from the read⟗write outer join are omitted (reference
  only fills present sides, explore.py:1735-1779).

The whole document reduces to one row via tiny aggregated frames —
every per-table grain is already orders of magnitude smaller than the
fact table, so the final crossJoin chain is broadcast-trivial.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from astra_perseverance_spark.config import DEFAULT_CONFIG, EngineConfig
from astra_perseverance_spark.conformed import load_model
from astra_perseverance_spark.queries import workload as W
from astra_perseverance_spark.queries.warnings import q_warnings


def u6(x: Column) -> Column:
    """Micro-unit integer encoding of a double (canonical)."""
    return F.floor(x.cast("double") * 1_000_000.0 + F.lit(0.5)).cast("long")


def _kv(key: Column | str, val: Column) -> Column:
    """'"key":value' JSON member from a value already rendered."""
    k = F.lit(key) if isinstance(key, str) else key
    return F.concat(F.lit('"'), k, F.lit('":'), val)


def _obj(members: Column) -> Column:
    """'{m1,m2,…}' from a pre-sorted array of member strings."""
    return F.concat(F.lit("{"), F.concat_ws(",", members), F.lit("}"))


def _collect_obj(df: DataFrame, group: list[str], entry: Column,
                 alias: str) -> DataFrame:
    """Group and assemble '"k":{…}' members into a sorted JSON object."""
    return df.groupBy(*group).agg(
        _obj(F.array_sort(F.collect_list(entry))).alias(alias)
    )


def q_summary_json(spark: SparkSession, sf_dir: str,
                   cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """One row, one column ``summary_json`` — the canonical document."""
    m = load_model(spark, sf_dir)

    # ---- workload section (memoized canonical grains) ----------------
    r = W.reads_agg(spark, sf_dir, cfg).select(
        "ks", "tbl", F.col("req").alias("read_req"), F.col("tps").alias("r_tps"))
    w = W.writes_agg(spark, sf_dir, cfg).select(
        "ks", "tbl", F.col("req").alias("write_req"), F.col("tps").alias("w_tps"))
    tot = W.totals(spark, sf_dir, cfg).select(
        "total_reads", "total_writes",
        (F.col("total_reads") + F.col("total_writes")).alias("total_rw"),
    )
    # shuffled-hash: full-outer can't broadcast, both sides tiny
    both = (
        r.join(w.hint("shuffle_hash"), ["ks", "tbl"], "full_outer")
        .crossJoin(F.broadcast(tot))
    )
    read_obj = F.when(
        F.col("read_req").isNotNull(),
        _obj(F.array(
            _kv("avg_tps_u6", u6(F.col("r_tps")).cast("string")),
            _kv("perc_read_u6", u6(F.col("read_req") / F.col("total_reads")).cast("string")),
            _kv("perc_rw_u6", u6(F.col("read_req") / F.col("total_rw")).cast("string")),
            _kv("read_req_u6", u6(F.col("read_req")).cast("string")),
        )),
    )
    write_obj = F.when(
        F.col("write_req").isNotNull(),
        _obj(F.array(
            _kv("avg_tps_u6", u6(F.col("w_tps")).cast("string")),
            _kv("perc_rw_u6", u6(F.col("write_req") / F.col("total_rw")).cast("string")),
            _kv("perc_write_u6", u6(F.col("write_req") / F.col("total_writes")).cast("string")),
            _kv("write_req_u6", u6(F.col("write_req")).cast("string")),
        )),
    )
    tbl_entry = _kv(
        F.col("tbl"),
        _obj(F.array_sort(F.filter(
            F.array(
                F.when(read_obj.isNotNull(), _kv("read", read_obj)),
                F.when(write_obj.isNotNull(), _kv("write", write_obj)),
            ),
            lambda x: x.isNotNull(),
        ))),
    )
    per_ks = _collect_obj(
        both.select("ks", tbl_entry.alias("e")), ["ks"], F.col("e"), "obj"
    ).select(_kv(F.col("ks"), F.col("obj")).alias("e"))

    wl_totals = (
        r.agg(F.sum("r_tps").alias("rt")).crossJoin(w.agg(F.sum("w_tps").alias("wt")))
        .crossJoin(F.broadcast(tot))
        .select(F.explode(F.array(
            _kv("total_read_per_u6",
                u6(F.col("total_reads") / F.col("total_rw")).cast("string")),
            _kv("total_read_tps_u6", u6(F.col("rt")).cast("string")),
            _kv("total_write_per_u6",
                u6(F.col("total_writes") / F.col("total_rw")).cast("string")),
            _kv("total_write_tps_u6", u6(F.col("wt")).cast("string")),
        )).alias("e"))
    )
    workload = _collect_obj(
        per_ks.unionByName(wl_totals), [], F.col("e"), "workload_json"
    )

    # ---- dataset_size section ---------------------------------------
    s = W.sizes_agg(spark, sf_dir, cfg).select(
        "ks", "tbl", F.col("size_bytes").alias("size"))
    ds_ks = _collect_obj(
        s.select(
            "ks",
            _kv(F.col("tbl"),
                _obj(F.array(_kv("size_u6", u6(F.col("size")).cast("string"))))).alias("e"),
        ),
        ["ks"], F.col("e"), "obj",
    ).select(_kv(F.col("ks"), F.col("obj")).alias("e"))
    ds_total = s.agg(F.coalesce(F.sum("size"), F.lit(0.0)).alias("t")).select(
        _kv("total_u6", u6(F.col("t")).cast("string")).alias("e")
    )
    dataset = _collect_obj(
        ds_ks.unionByName(ds_total), [], F.col("e"), "dataset_json"
    )

    # ---- warnings section -------------------------------------------
    warn = q_warnings(spark, sf_dir, cfg)
    checks = warn.groupBy("category", "check").agg(
        F.concat(
            F.lit("["),
            F.concat_ws(",", F.array_sort(F.collect_list(
                F.concat(F.lit('"'), F.col("message"), F.lit('"'))
            ))),
            F.lit("]"),
        ).alias("arr")
    )
    cats = _collect_obj(
        checks.select("category", _kv(F.col("check"), F.col("arr")).alias("e")),
        ["category"], F.col("e"), "obj",
    ).select(_kv(F.col("category"), F.col("obj")).alias("e"))
    warnings_json = _collect_obj(cats, [], F.col("e"), "warnings_json")

    # ---- scalars -----------------------------------------------------
    uptime = m.node_info.agg(
        _kv("avg_uptime_u6", u6(F.avg("uptime_sec")).cast("string")).alias("avg_uptime")
    )
    missing = m.missing_node_or_empty(spark).agg(
        _kv("missing_data",
            F.when(F.count("*") > 0, "1").otherwise("0")).alias("missing")
    )

    # ---- document ----------------------------------------------------
    return (
        workload.crossJoin(dataset).crossJoin(warnings_json)
        .crossJoin(uptime).crossJoin(missing)
        .select(
            _obj(F.array_sort(F.array(
                F.col("avg_uptime"),
                _kv("dataset_size", F.col("dataset_json")),
                F.col("missing"),
                _kv("warnings", F.col("warnings_json")),
                _kv("workload", F.col("workload_json")),
            ))).alias("summary_json")
        )
    )
