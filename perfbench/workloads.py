"""The workloads: what one pass runs, and the output checks.

An operation is one ``DataCleaner`` step or one query; each pass
returns one outcome per operation (``None`` on success, else the error
text). ``trace(name)`` opens a span when the run is traced and is a
no-op context otherwise.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import sys

# LLM-curation and SQL-analytics queries. d22 is here because it is the
# cheapest consumer of knn.topk_per_row_exact; r25b is the only one that
# enters through SQL text over registered views. Left out to keep one run
# under about 70 s, and so not measured: l2f (MD5 min-hash signatures),
# l3 (broadcast cross-join kNN), l37 (DSIR weights), d3 (single-column
# exact_quantiles), q3, q5, q9, q18 (join-aggregate TPC-H queries) and
# pipeline_corpus_curation (a quality filter over l1's with_dedup_rank).
CURATION = (
    "l1_exact_dedup", "l2_minhash_lsh", "l4e_embed_neardup_lsh_md5",
    "d22_neardup_label_conflict", "l19_gopher_quality", "l16_pii_redact",
    "l8b_bm25_search", "l10b_bpe_token_count", "u3_applyinpandas_groupfill",
    "pipeline_lm_dataset",
)
SQL = (
    "q1_pricing_summary_cleaned", "q21_sole_return_suppliers",
    "r25b_correlated_subquery_sql", "c5b_interpolate_per_user", "st3_session_window",
    "w4_moving_avg", "g1_pagerank",
)
QUERY_BATCH = CURATION + SQL
CLEAN_STEPS = ("profile", "problems", "dedup", "autofix", "to_sql", "commit", "recheck")


def query_label(name: str) -> str:
    """``<module>.<query>``, the module being the last dotted part of
    the module that defines the query's function."""
    from ipydataclean_spark.registry import QUERIES

    return f"{QUERIES[name]['fn'].__module__.rsplit('.', 1)[-1]}.{name}"


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]


# -- clean_session -------------------------------------------------------

def clean_pass(ctx, trace) -> tuple[list, dict]:
    """profile -> problems -> dedup -> autofix -> to_sql -> commit_to
    (a MERGE into a fresh TxTable, gated by a Suite) -> problems
    re-check, on a fresh DataCleaner over freshly read input files.

    The duplicate rows are removed before ``autofix``, not by it:
    ``autofix`` dedups last, after clipping outliers at fences computed
    with the duplicates in, so on some seeds the re-check finds the
    clipped values outside the deduplicated frame's fences."""
    from ipydataclean_spark.api import DataCleaner
    from ipydataclean_spark.catalog import load_table
    from ipydataclean_spark.operators.expectations import Suite
    from ipydataclean_spark.sources.txlog import TxTable

    dc = DataCleaner(load_table(ctx.spark, ctx.data_dir, "clean_input"))
    state: dict = {"cleaner": dc}
    root = os.path.join(ctx.work_dir, f"tx{ctx.pass_no}")
    shutil.rmtree(root, ignore_errors=True)

    def commit():
        table = TxTable.create(ctx.spark, root, dc.df.limit(0))
        gate = (Suite().completeness("l_quantity", 1.0)
                .completeness("quantity_str", 1.0).uniqueness("rid", 1.0))
        state["version"] = dc.commit_to(table, key="rid", suite=gate)
        state["table"] = table

    steps = {
        "profile": lambda: dc.profile(),
        "problems": lambda: state.__setitem__("problems", dc.problems()),
        "dedup": lambda: dc.apply_fix("*", "duplicates", "dedup"),
        "autofix": lambda: state.__setitem__("applied", dc.autofix()),
        "to_sql": lambda: state.__setitem__("sql", dc.to_sql("src")),
        "commit": commit,
        "recheck": lambda: state.__setitem__("recheck", dc.problems()),
    }
    outcomes = []
    for step in CLEAN_STEPS:
        if outcomes and outcomes[-1] is not None:
            outcomes.append("skipped: an earlier step failed")
            continue
        try:
            with trace(f"api.{step}"):
                steps[step]()
            outcomes.append(None)
        except Exception as e:  # noqa: BLE001 - a failed step is a counted failure
            outcomes.append(_err(e))
    return outcomes, state


def clean_checks(ctx, passes) -> list:
    """Untimed output checks on the last pass."""
    state = passes[-1]["state"]
    vl = verify_local(ctx.root)
    out = []
    fixed = {a["column"] for a in state.get("applied", [])} | {"*"}
    left = [p for p in state.get("recheck", [("?", "no re-check", 0)]) if p[0] in fixed | {"?"}]
    out.append(None if fixed and not left else f"re-check still finds {left or 'nothing fixed'}")
    try:
        cleaned = state["cleaner"].df
        srows = [tuple(r) for r in cleaned.collect()]
        con = duck_con(ctx.data_dir, ("clean_input",), alias={"clean_input": "src"})
        rel = con.sql(state["sql"])
        drows = rel.fetchall()
        s_hash = rows_hash(vl, srows, cleaned.columns)
        d_hash = rows_hash(vl, drows, list(rel.columns))
        out.append(None if (len(srows), s_hash) == (len(drows), d_hash) else
                   f"to_sql export differs: spark {len(srows)} rows {s_hash[:12]}, "
                   f"duckdb {len(drows)} rows {d_hash[:12]}")
        n_table = state["table"].read().count()
        out.append(None if n_table == len(srows) else
                   f"TxTable snapshot holds {n_table} rows, cleaned frame {len(srows)}")
    except Exception as e:  # noqa: BLE001
        out.append(_err(e))
    return out


# -- query batch ----------------------------------------------------------

def batch_pass(ctx, trace, names) -> tuple[list, dict]:
    """Each query built from freshly read files and its result rows
    collected to the driver (every column of every row is computed);
    the rows are kept for the untimed checks."""
    from ipydataclean_spark.registry import QUERIES

    outcomes, state = [], {}
    for name in names:
        try:
            with trace(query_label(name)):
                sdf = QUERIES[name]["fn"](ctx.spark, ctx.data_dir)
                rows = sdf.collect()
            state[name] = (sdf.schema, [tuple(r) for r in rows])
            outcomes.append(None)
        except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
            outcomes.append(_err(e))
    return outcomes, state


def batch_checks(ctx, passes, names) -> list:
    """The last pass's output of each query against its registered
    DuckDB oracle on the generated inputs; a rows-only query (no
    oracle) must give the same order-insensitive hash on every pass."""
    from ipydataclean_spark.catalog import TABLES
    from ipydataclean_spark.registry import QUERIES

    vl = verify_local(ctx.root)
    con = duck_con(ctx.data_dir, TABLES)
    last = passes[-1]["state"]
    out = []
    for name in names:
        try:
            schema, srows = last[name]
            if QUERIES[name]["oracle"] is None:
                hashes = {rows_hash(vl, p["state"][name][1], schema.names) for p in passes}
                out.append(None if len(hashes) == 1 else
                           f"{name}: rows-only hash differs between passes")
                continue
            rel = con.sql(QUERIES[name]["oracle"])
            ocols, orows = list(rel.columns), rel.fetchall()
            sc, sv = vl.normalize(srows, schema.names)
            oc, ov = vl.normalize(orows, ocols)
            stypes = {f.name: vl.canon_spark_type(f.dataType) for f in schema.fields}
            otypes = dict(zip(ocols, [vl.canon_duck_type(t) for t in rel.types]))
            if sc != oc:
                out.append(f"{name}: columns spark={sc} duckdb={oc}")
            elif stypes != otypes:
                out.append(f"{name}: types spark={stypes} duckdb={otypes}")
            elif not vl.values_equal(sv, ov)[0]:
                out.append(f"{name}: values differ ({len(sv)} vs {len(ov)} rows)")
            else:
                out.append(None)
        except Exception as e:  # noqa: BLE001
            out.append(f"{name}: {_err(e)}")
    return out


# -- shared helpers ---------------------------------------------------------

def verify_local(root: str):
    """The repository's local oracle tool, imported for its
    canonicalisation (column order, row order, type names, exact value
    compare). Its import-time path setup is undone."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def duck_con(data_dir: str, tables, alias: dict | None = None):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        glob = os.path.join(data_dir, f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {(alias or {}).get(t, t)} AS "
                    f"SELECT * FROM read_parquet('{glob}')")
    return con


def rows_hash(vl, rows, cols) -> str:
    """Order-insensitive hash: columns sorted by name, rows sorted."""
    names, norm = vl.normalize(rows, list(cols))
    h = hashlib.sha256(repr(names).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()


#: ``warmup`` is the number of passes run inside set-up. A JVM's first
#: pass runs 2-3x slower; a clean_session pass keeps speeding up through
#: its third (22, 10.7, 9.7 s on 4 vCPUs), a query_batch pass levels off
#: after one.
WORKLOADS = {
    "clean_session": {"pass": clean_pass, "checks": clean_checks, "warmup": 2},
    "query_batch": {"pass": lambda c, t: batch_pass(c, t, QUERY_BATCH), "warmup": 1,
                    "checks": lambda c, p: batch_checks(c, p, QUERY_BATCH)},
}
