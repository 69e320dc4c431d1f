"""Checks every timed op's output against the DuckDB oracle SQL the program
carries for the same `SparkEntry` query (`graft.SparkEntry.oracleSql`).

Outputs are compared the way `tools/oracle_check.py` compares them: column
names as a set, rows as a multiset of the values' string forms. Here DuckDB
does the comparison: both sides are read into DuckDB, their columns cast to
VARCHAR in name order, and compared with EXCEPT ALL.
"""
import glob
import os

import duckdb


class Oracle:
    """A DuckDB connection with the run's input tables registered as views."""

    def __init__(self, tables):
        self.con = duckdb.connect()
        self.tables = tables
        self._memo = {}

    def _table(self, name, sql):
        """Materialises `sql` as table `name`; returns its sorted column names."""
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")
        return sorted(r[0] for r in self.con.execute(f"DESCRIBE {name}").fetchall())

    def _expected(self, sql, bindings):
        """The oracle's output as a table, with `bindings` naming table -> file."""
        key = (sql, tuple(sorted(bindings.items())))
        if key not in self._memo:
            for name, path in {**self.tables, **bindings}.items():
                self.con.execute(
                    f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            table = f"want{len(self._memo)}"
            self._memo[key] = (table, self._table(table, sql))
        return self._memo[key]

    def matches(self, out_dir, sql, bindings=None):
        """None when the parquet output in `out_dir` equals the oracle's, else why not."""
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            return "no output files"
        got_cols = self._table("got", f"SELECT * FROM read_parquet({files!r})")
        want, want_cols = self._expected(sql, bindings or {})
        if got_cols != want_cols:
            return f"columns {got_cols} != oracle {want_cols}"
        n_got, n_want = (self.con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                         for t in ("got", want))
        if n_got != n_want:
            return f"{n_got} rows != oracle {n_want}"
        cast = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in got_cols)
        differ = self.con.execute(f"""SELECT count(*) FROM (
            SELECT {cast} FROM got EXCEPT ALL SELECT {cast} FROM {want})""").fetchone()[0]
        if differ:
            return f"{differ} rows differ from oracle"
        return None


def check_spark(result, tables):
    """Returns why each failed op failed.

    A curation op's written output must equal its operator's oracle run on
    the op's own input slice. A dialect op's row count and hash, observed as
    its sink ran, must equal those of its statement's reference output (the
    warm-up's), and that reference must equal the statement's oracle.
    """
    oracle = Oracle(tables)
    sql, refs = result["oracles"], result["refs"]
    bad_ref = {name: oracle.matches(ref["out"], sql[name]) for name, ref in refs.items()}
    failures = []
    for op in result["ops"]:
        name = op["item"]
        if not op["ok"]:
            why = op.get("error")
        elif "input" in op:
            why = oracle.matches(op["out"], sql[name], {"documents": op["input"]})
        elif name not in refs:
            why = "no reference output"
        elif bad_ref[name]:
            why = bad_ref[name]
        elif (op["rows"], op["hash"]) != (refs[name]["rows"], refs[name]["hash"]):
            why = (f"rows/hash {op['rows']}/{op['hash']} != reference "
                   f"{refs[name]['rows']}/{refs[name]['hash']}")
        else:
            why = None
        if why:
            failures.append(f"{name}: {why}")
    return failures
