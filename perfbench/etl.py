"""etl_parity: the parq-tools file-to-file surface.

Every op reads Parquet files and writes Parquet files, the
out-of-core case the reference exists for: heavy on scan, write,
shuffle and spill, almost no Python boundary, no index. Each op's
output is checked against DuckDB over the same generated files,
outside the timed region.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

FILTER_DSL = "l_quantity > 30 and l_returnflag in ['A', 'R'] or l_discount == 0.05"
FILTER_SQL = "(l_quantity > 30 AND l_returnflag IN ('A', 'R')) OR l_discount = 0.05"
DSL_SAMPLES = (
    FILTER_DSL,
    "l_shipdate >= '1995-01-01' and l_tax < 0.04",
    "l_linestatus != 'F' and (l_quantity <= 5 or l_partkey in [1, 2, 3, 5, 8, 13])",
)
SORT_KEYS = ["l_shipdate", "l_orderkey", "l_linenumber"]
KEY = ["l_orderkey", "l_linenumber"]
DEDUP_KEYS = ["l_partkey", "l_suppkey"]
RENAME = {"l_quantity": "quantity", "l_extendedprice": "extended_price"}
WIDE_LEFT = KEY + ["l_partkey", "l_quantity", "l_extendedprice"]
WIDE_RIGHT = KEY + ["l_discount", "l_tax", "l_returnflag", "l_comment"]
# Columns hashed into a row fingerprint; l_shipdate goes in as epoch
# days so Spark's and pyarrow's timestamp encodings compare equal.
FP_COLS = (
    "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, "
    "l_discount, l_tax, l_returnflag, l_linestatus, l_comment, "
    "datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))"
)


def _fp(con, relation: str, cols: str = FP_COLS) -> tuple:
    """Order-free fingerprint of a relation: row count and hash sum."""
    return con.execute(
        f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {relation}"
    ).fetchone()


def _files(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


class EtlParity:
    name = "etl_parity"

    def __init__(self, work: str, seed: int):
        self.src = os.path.join(work, "lineitem")
        self.out = os.path.join(work, "out")
        self.files = gen.write_split(
            gen.lineitem_table(seed), self.src, gen.LINEITEM_FILES, gen.LINEITEM_ROW_GROUP
        )
        self.inputs = gen.describe(self.files)
        self.rows_per_pass = self.inputs["rows"]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW li AS SELECT * FROM {_files(self.src)}")
        # wide-concat inputs: two column slices of one file, index rows
        # shuffled on the right so the join, not file order, aligns them
        first = pq.read_table(self.files[0])
        rng = np.random.default_rng([seed, 4])
        self.wide = [os.path.join(work, "wide_left.parquet"), os.path.join(work, "wide_right.parquet")]
        pq.write_table(first.select(WIDE_LEFT), self.wide[0], row_group_size=gen.LINEITEM_ROW_GROUP)
        pq.write_table(
            first.select(WIDE_RIGHT).take(rng.permutation(first.num_rows)),
            self.wide[1],
            row_group_size=gen.LINEITEM_ROW_GROUP,
        )
        # reindex target: 80% of the existing keys plus 10% absent ones
        keys = con.execute("SELECT l_orderkey, l_linenumber FROM li").fetch_arrow_table()
        pick = rng.random(keys.num_rows) < 0.8
        extra = int(keys.num_rows * 0.1)
        self.new_index = pa.concat_tables(
            [
                keys.filter(pa.array(pick)),
                pa.table(
                    {
                        "l_orderkey": pa.array(np.arange(10**8, 10**8 + extra), pa.int64()),
                        "l_linenumber": pa.array(np.ones(extra, dtype=np.int32)),
                    }
                ),
            ]
        )
        self.index_path = os.path.join(work, "new_index.parquet")
        pq.write_table(self.new_index, self.index_path)
        self.ref = self._reference(con)
        con.close()

    def _reference(self, con) -> dict:
        ix = f"read_parquet('{self.index_path}')"
        lcols = ", ".join(WIDE_LEFT)
        rcols = ", ".join(c for c in WIDE_RIGHT if c not in KEY)
        wl, wr = (f"read_parquet('{p}')" for p in self.wide)
        return {
            "all": _fp(con, "li"),
            "filter": _fp(con, f"(SELECT * FROM li WHERE {FILTER_SQL})"),
            "wide": _fp(
                con,
                f"(SELECT l.*, {rcols} FROM {wl} l JOIN {wr} r USING (l_orderkey, l_linenumber))",
                f"{lcols}, {rcols}",
            ),
            "reindex": _fp(
                con,
                f"(SELECT i.l_orderkey, i.l_linenumber, li.* EXCLUDE (l_orderkey, l_linenumber) "
                f"FROM {ix} i LEFT JOIN li USING (l_orderkey, l_linenumber))",
            ),
            "dedup": _fp(
                con,
                "(SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (PARTITION BY "
                "l_partkey, l_suppkey ORDER BY l_orderkey, l_linenumber) rn FROM li) WHERE rn = 1)",
            ),
            "stats": con.execute(
                "SELECT count(*), min(l_quantity), max(l_quantity), min(l_comment), "
                "max(l_comment), sum(l_quantity) FROM li"
            ).fetchone(),
            "net": con.execute(
                "SELECT sum(l_extendedprice * (1 - l_discount)), "
                "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) FROM li"
            ).fetchone(),
        }

    # ---------------------------------------------------------------- ops
    def run_pass(self, spark, rec, k: int) -> dict:
        from parq_tools_spark import (
            CalculatedColumn,
            LazySparkDF,
            compare_parquet_files,
            concat_parquet_files,
            dedupe_parquet,
            filter_parquet,
            profile_dataframe,
            reindex_parquet,
            rename_parquet,
            sort_parquet,
            with_calculated_columns,
        )
        from parq_tools_spark.plans.query_parser import build_filter_expression
        from parq_tools_spark.sources.parquet_io import read_parquet, write_parquet

        out = os.path.join(self.out, str(k))
        o = lambda name: os.path.join(out, name)  # noqa: E731
        src = self.src
        res: dict = {}

        rec.call("plans.query_parser", "parse", lambda: [build_filter_expression(e) for e in DSL_SAMPLES])
        rec.call("sources.parquet_io", "copy", lambda: write_parquet(read_parquet(spark, src), o("copy")))
        rec.call("operators.filter", "filter_parquet", filter_parquet, spark, src, o("filter"), FILTER_DSL)
        rec.call("operators.concat", "concat_tall", concat_parquet_files, spark, self.files, o("tall"), axis=0)
        rec.call("operators.concat", "concat_wide", concat_parquet_files, spark, self.wide, o("wide"), axis=1, index_columns=KEY)
        rec.call("operators.index_ops", "sort_parquet", sort_parquet, spark, src, o("sort"), SORT_KEYS)
        rec.call(
            "operators.index_ops", "reindex_parquet",
            lambda: reindex_parquet(spark, src, o("reindex"), spark.read.parquet(self.index_path), KEY),
        )
        rec.call("operators.index_ops", "dedupe_parquet", dedupe_parquet, spark, src, o("dedup"), DEDUP_KEYS, order_columns=KEY)
        rec.call("operators.schema_tools", "rename_parquet", rename_parquet, spark, src, o("rename"), RENAME)
        res["profile"] = rec.call(
            "operators.profile", "profile_dataframe",
            lambda: profile_dataframe(read_parquet(spark, src), columns=["l_quantity", "l_comment"]),
        )
        res["compare"] = rec.call("operators.compare", "compare_parquet_files", compare_parquet_files, spark, o("copy"), src)
        res["lazy"] = rec.call("lazy", "lazy_columns", lambda: LazySparkDF(spark, src)[["l_orderkey", "l_quantity"]])
        calc = [
            CalculatedColumn("net", expr_sql="l_extendedprice * (1 - l_discount)"),
            CalculatedColumn("gross", func=_gross),
        ]
        rec.call(
            "functions.calculated_columns", "with_calculated_columns",
            lambda: write_parquet(with_calculated_columns(read_parquet(spark, src), calc), o("calc")),
        )
        return res

    # -------------------------------------------------------------- checks
    def check_pass(self, k: int, res: dict) -> list:
        """Names of ops whose output disagrees with the DuckDB reference."""
        out = os.path.join(self.out, str(k))
        con = duckdb.connect()
        bad = []
        ref = self.ref
        want = {
            "copy": ref["all"],
            "filter_parquet": ref["filter"],
            "concat_tall": ref["all"],
            "sort_parquet": ref["all"],
            "reindex_parquet": ref["reindex"],
            "dedupe_parquet": ref["dedup"],
        }
        dirs = {
            "copy": "copy", "filter_parquet": "filter", "concat_tall": "tall",
            "sort_parquet": "sort", "reindex_parquet": "reindex", "dedupe_parquet": "dedup",
        }
        for op, expect in want.items():
            try:
                got = _fp(con, _files(os.path.join(out, dirs[op])))
            except duckdb.Error:
                got = None
            if got != expect:
                bad.append(op)
        lcols = ", ".join(WIDE_LEFT)
        rcols = ", ".join(c for c in WIDE_RIGHT if c not in KEY)
        try:
            if _fp(con, _files(os.path.join(out, "wide")), f"{lcols}, {rcols}") != ref["wide"]:
                bad.append("concat_wide")
        except duckdb.Error:
            bad.append("concat_wide")
        if not _sorted_output(os.path.join(out, "sort")):
            bad.append("sort_parquet")
        renamed = os.path.join(out, "rename")
        try:
            cols = FP_COLS.replace("l_quantity", "quantity").replace("l_extendedprice", "extended_price")
            if _fp(con, _files(renamed), cols) != ref["all"]:
                bad.append("rename_parquet")
        except duckdb.Error:
            bad.append("rename_parquet")
        n, qmin, qmax, cmin, cmax, qsum = ref["stats"]
        p = res.get("profile") or {}
        q, c = p.get("l_quantity", {}), p.get("l_comment", {})
        if (q.get("n"), q.get("min"), q.get("max"), c.get("min"), c.get("max")) != (n, qmin, qmax, cmin, cmax):
            bad.append("profile_dataframe")
        cmp = res.get("compare") or {}
        if not (cmp.get("row_count_match") and cmp.get("schema_match") and cmp.get("content_match")):
            bad.append("compare_parquet_files")
        lazy = res.get("lazy")
        if lazy is None or len(lazy) != n or float(lazy["l_quantity"].sum()) != qsum:
            bad.append("lazy_columns")
        try:
            net, gross = con.execute(
                f"SELECT sum(net), sum(gross) FROM {_files(os.path.join(out, 'calc'))}"
            ).fetchone()
            if not (np.isclose(net, ref["net"][0], rtol=1e-9) and np.isclose(gross, ref["net"][1], rtol=1e-9)):
                bad.append("with_calculated_columns")
        except duckdb.Error:
            bad.append("with_calculated_columns")
        con.close()
        shutil.rmtree(out, ignore_errors=True)
        return bad


def _gross(l_extendedprice, l_discount, l_tax):
    return l_extendedprice * (1 - l_discount) * (1 + l_tax)


def _sorted_output(path: str) -> bool:
    """Rows read back file by file, in file-name order, are sorted."""
    try:
        names = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        t = pa.concat_tables(pq.read_table(os.path.join(path, f), columns=SORT_KEYS) for f in names)
    except (OSError, pa.ArrowException, ValueError):
        return False
    d = t.to_pandas()
    return bool(d.sort_values(SORT_KEYS, kind="stable").index.equals(d.index))
