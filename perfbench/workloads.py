"""The three workloads. Each is a closed loop of rounds; every round is a
fixed mix of operations in a seed-chosen order, so runs with different
seeds do the same kind and amount of work.

- ``interactive_ddl``: the reference's own usage, ``CREATE FUNCTION`` then
  ``SELECT f(a, b) FROM t`` on the 4-row table ``t``, for every language.
  Almost pure fixed cost: DDL parsing, factory compile and register,
  planning, job scheduling and the Python-worker round trip.
- ``udf_scan``: one arithmetic expression through every execution path the
  factory registers, over a seed-generated multi-file parquet table. Most
  time goes to the execution path and the Python-worker boundary.
- ``corpus_headliners``: a fixed set of the repository's headline queries
  on the bundled sf0.01 tables. Most time goes to operators, eager
  checkpoint jobs, shuffles and driver collects; the factory is bypassed.
"""

from __future__ import annotations

import random
import statistics
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, Iterator

from harness import frames_equal, pct

DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"

#: Inputs per size. ``smoke`` keeps every check on and finishes in seconds;
#: it exists for the benchmark's own tests.
SIZES = {
    "full": {"scan_rows": 500_000, "udtf_keys": 1, "corpus": None},
    "smoke": {"scan_rows": 20_000, "udtf_keys": 2, "corpus": 2},
}


@dataclass
class Op:
    """One statement of a round.

    ``build`` returns the DataFrame to fetch; a DDL statement runs inside
    ``build`` and has no ``fetch``. ``fetch`` is the action that
    materializes the DataFrame. ``check`` takes the result and returns
    ``None`` when it is right, else a reason.
    """

    kind: str
    build: Callable[[], Any]
    fetch: Callable[[Any], Any] | None
    check: Callable[[Any], str | None]
    rows_in: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def is_query(self) -> bool:
        return self.fetch is not None

    @property
    def label(self) -> str:
        """Names the statement's place in a round: each label occurs once
        per round."""
        if self.kind == "drop":
            return "drop"
        a = self.attrs
        return f"{self.kind}:{a.get('lang') or a.get('path') or a.get('query')}"


def _run_ddl(sess, stmt: str) -> None:
    sess.sql(stmt)


def _collect(df):
    return df.collect()


def _to_pandas(df):
    return df.toPandas()


# --- interactive_ddl ---------------------------------------------------------

T_ROWS = [(1, 10), (2, 20), (3, 30), (4, 40)]

#: (expression in a and b, Python evaluator); ``{k1}``/``{k2}`` are drawn
#: from the seed. The same text is valid Python, SQL and (with ``L``
#: literals) Java.
TEMPLATES = [
    ("a * {k1} + b", lambda a, b, k1, k2: a * k1 + b),
    ("(a + {k2}) * b", lambda a, b, k1, k2: (a + k2) * b),
    ("b - a * {k1} + {k2}", lambda a, b, k1, k2: b - a * k1 + k2),
    ("a * b + {k2}", lambda a, b, k1, k2: a * b + k2),
]

#: LANGUAGE MODULE bodies: importable everywhere the workers run.
MODULE_FUNCS = [
    ("operator.add", lambda a, b: a + b),
    ("operator.mul", lambda a, b: a * b),
    ("operator.sub", lambda a, b: a - b),
    ("builtins.max", max),
    ("builtins.min", min),
]

LANGS = ["PYTHON", "PANDAS", "SQL", "MODULE", "JAVA"]

#: Distinct inline Java bodies per pass: the first use of each is a cold
#: javac compile, every later use a cache hit.
JAVA_POOL = 2


def _java_body(expr: str) -> str:
    import re

    jexpr = re.sub(r"(\d+)", r"\1L", expr)
    return (
        "public class Fn implements org.apache.spark.sql.api.java.UDF2"
        "<Long, Long, Long> { public Long call(Long a, Long b) { "
        f"return {jexpr}; }} }}"
    )


class InteractiveDdl:
    name = "interactive_ddl"
    #: nominal seconds per round on 4 cores; sets the rounds per run
    round_s = 2.0
    #: three rounds, so the traced pass has warm JAVA creates too
    trace_rounds = 3

    def __init__(self, seed: int, size: str):
        self.seed = seed
        self.exists: set[str] = set()

    def prepare(self, spark, sess, dirs) -> None:
        self.spark, self.sess = spark, sess
        values = ", ".join(f"({a}L, {b}L)" for a, b in T_ROWS)
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW t AS SELECT * FROM VALUES {values} AS t(a, b)"
        )

    def rounds(self, tag: str) -> Iterator[list[Op]]:
        """Endless rounds; one CREATE + call per language, one DROP.
        Generating a round assumes its DDL runs, so take only the rounds
        that will be executed."""
        rng = random.Random(f"{self.seed}:{tag}:java")
        pool = [self._expr(rng) for _ in range(JAVA_POOL)]
        r = 0
        while True:
            rng = random.Random(f"{self.seed}:{tag}:{r}")
            order = rng.sample(LANGS, len(LANGS))
            drop = rng.choice(LANGS)
            ops: list[Op] = []
            for lang in order:
                if lang == "JAVA":
                    expr = pool[r] if r < JAVA_POOL else rng.choice(pool)
                else:
                    expr = self._expr(rng)
                ops += self._cycle(lang, expr, rng, drop == lang)
            yield ops
            r += 1

    @staticmethod
    def _expr(rng: random.Random):
        i = rng.randrange(len(TEMPLATES))
        return i, rng.randint(2, 9), rng.randint(1, 99)

    def _cycle(self, lang, expr, rng, drop: bool) -> list[Op]:
        fname = f"f_{lang.lower()}"
        replace = "OR REPLACE " if fname in self.exists else ""
        self.exists.add(fname)
        if lang == "MODULE":
            path, fn = MODULE_FUNCS[rng.randrange(len(MODULE_FUNCS))]
            body, golden = path, [fn(a, b) for a, b in T_ROWS]
        else:
            i, k1, k2 = expr
            text = TEMPLATES[i][0].format(k1=k1, k2=k2)
            golden = [TEMPLATES[i][1](a, b, k1, k2) for a, b in T_ROWS]
            body = {
                "PYTHON": f"return {text}",
                "PANDAS": f"return {text}",
                "SQL": text,
                "JAVA": _java_body(text),
            }[lang]
        quoted = f"$${body}$$" if lang == "JAVA" else f"'{body}'"
        ddl = (
            f"CREATE {replace}FUNCTION {fname}(a BIGINT, b BIGINT) "
            f"RETURNS BIGINT LANGUAGE {lang} AS {quoted}"
        )
        attrs = {"lang": lang, "java_body": body if lang == "JAVA" else None}
        ops = [
            Op("create", lambda: _run_ddl(self.sess, ddl), None,
               lambda _: None, attrs=attrs),
            Op("call", lambda: self.sess.sql(f"SELECT {fname}(a, b) FROM t"),
               _collect, _expect_values(golden), rows_in=len(T_ROWS),
               attrs={"lang": lang}),
        ]
        if drop:
            self.exists.discard(fname)
            ops.append(
                Op("drop", lambda: self._drop(fname), None, lambda reason: reason,
                   attrs={"lang": lang})
            )
        return ops

    @staticmethod
    def details(ok) -> dict:
        """DDL latency without cold javac compiles, the cold compiles, and
        the call latency."""
        seen: set[str] = set()
        ddl, cold = [], []
        for r in ok:
            body = r.op.attrs.get("java_body")
            if body is not None and body not in seen:
                seen.add(body)
                cold.append(r)
            elif not r.op.is_query:
                ddl.append(r)
        return {
            **_latency_ms("ddl", ddl, p90=True),
            **_latency_ms("java_compile", cold),
            **_latency_ms("call", [r for r in ok if r.op.is_query], p90=True),
        }

    def _drop(self, fname: str) -> str | None:
        """Runs the DROP; the registry is checked at once, because a later
        CREATE of the same name re-registers it."""
        _run_ddl(self.sess, f"DROP FUNCTION {fname}")
        if fname in self.sess.factory.registry:
            return f"{fname} still registered after DROP"
        return None


def _latency_ms(name: str, records, p90: bool = False) -> dict:
    """``<name>_p50_ms`` (and ``_p90_ms``) with the sample count."""
    xs = [r.latency_s * 1e3 for r in records]
    if not xs:
        return {}
    out = {f"{name}_p50_ms": (statistics.median(xs), "ms", len(xs))}
    if p90:
        out[f"{name}_p90_ms"] = (pct(xs, 90), "ms", len(xs))
    return out


def _expect_values(golden: list[int]):
    want = sorted(golden)

    def check(rows) -> str | None:
        got = sorted(r[0] for r in rows)
        return None if got == want else f"got {got}, want {want}"

    return check


# --- udf_scan ----------------------------------------------------------------

#: Path name -> (DDL template, query template). ``{e}`` is the seed's
#: expression in a and b, ``{n}`` the function name.
SCAN_PATHS = {
    "python": (
        "CREATE FUNCTION {n}(a BIGINT, b BIGINT) RETURNS BIGINT DETERMINISTIC "
        "LANGUAGE PYTHON AS 'return {e}'",
        "SELECT SUM({n}(a, b)) AS v FROM scan",
    ),
    "pandas": (
        "CREATE FUNCTION {n}(a BIGINT, b BIGINT) RETURNS BIGINT DETERMINISTIC "
        "LANGUAGE PANDAS AS 'return {e}'",
        "SELECT SUM({n}(a, b)) AS v FROM scan",
    ),
    "sql": (
        "CREATE FUNCTION {n}(a BIGINT, b BIGINT) RETURNS BIGINT DETERMINISTIC "
        "LANGUAGE SQL AS '{e}'",
        "SELECT SUM({n}(a, b)) AS v FROM scan",
    ),
    "java": (
        "CREATE FUNCTION {n}(a BIGINT, b BIGINT) RETURNS BIGINT DETERMINISTIC "
        "LANGUAGE JAVA AS $${j}$$",
        "SELECT SUM({n}(a, b)) AS v FROM scan",
    ),
    "udaf": (
        "CREATE AGGREGATE FUNCTION {n}(a BIGINT, b BIGINT) RETURNS BIGINT "
        "LANGUAGE PANDAS AS 'return int(({e}).sum())'",
        "SELECT k, {n}(a, b) AS v FROM scan GROUP BY k",
    ),
    "udtf": (
        "CREATE FUNCTION {n}(a BIGINT, b BIGINT) RETURNS TABLE (v BIGINT) "
        "LANGUAGE PYTHON AS 'yield ({e},)'",
        "SELECT SUM(u.v) AS v FROM scan_slice s, LATERAL {n}(s.a, s.b) u",
    ),
}


class UdfScan:
    name = "udf_scan"
    round_s = 3.5
    trace_rounds = 1

    def __init__(self, seed: int, size: str):
        self.seed = seed
        self.rows = SIZES[size]["scan_rows"]
        self.udtf_keys = SIZES[size]["udtf_keys"]

    def prepare(self, spark, sess, dirs) -> None:
        import duckdb
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from harness import nproc

        self.spark, self.sess = spark, sess
        rng = np.random.default_rng(self.seed)
        table = pa.table({
            "k": rng.integers(0, 64, self.rows),
            "a": rng.integers(0, 10_000, self.rows),
            "b": rng.integers(0, 10_000, self.rows),
        })
        # one file per core, one row group each: every scan task gets rows
        out = dirs.data / "scan.parquet"
        out.mkdir()
        n_files = nproc()
        step = -(-self.rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step), out / f"part-{i}.parquet")
        r = random.Random(f"{self.seed}:expr")
        i, k1, k2 = r.randrange(len(TEMPLATES)), r.randint(2, 9), r.randint(1, 99)
        expr = TEMPLATES[i][0].format(k1=k1, k2=k2)
        from adhesive_spark.sources.registry import load_table

        load_table(spark, str(dirs.data), "scan").createOrReplaceTempView("scan")
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW scan_slice AS "
            f"SELECT * FROM scan WHERE k < {self.udtf_keys}"
        )
        for path, (ddl, _) in SCAN_PATHS.items():
            sess.sql(ddl.format(n=f"s_{path}", e=expr, j=_java_body(expr)))
        con = duckdb.connect()
        con.register("scan", table)
        total = con.execute(f"SELECT SUM({expr}) FROM scan").fetchone()[0]
        sliced = con.execute(
            f"SELECT SUM({expr}), COUNT(*) FROM scan WHERE k < {self.udtf_keys}"
        ).fetchone()
        groups = dict(con.execute(
            f"SELECT k, SUM({expr}) FROM scan GROUP BY k"
        ).fetchall())
        con.close()
        self.expected = {
            p: total for p in ("python", "pandas", "sql", "java")
        }
        self.expected["udtf"] = sliced[0]
        self.expected["udaf"] = groups
        self.slice_rows = sliced[1]

    def rounds(self, tag: str) -> Iterator[list[Op]]:
        r = 0
        while True:
            rng = random.Random(f"{self.seed}:{tag}:{r}")
            yield [self._scan(p) for p in rng.sample(list(SCAN_PATHS), len(SCAN_PATHS))]
            r += 1

    @staticmethod
    def details(ok) -> dict:
        """Input rows per second of each execution path."""
        by_path: dict[str, list] = {}
        for r in ok:
            by_path.setdefault(r.op.attrs["path"], []).append(r)
        return {
            f"{p}_rows_per_s": (sum(r.op.rows_in for r in rs) / sum(r.latency_s for r in rs),
                                "1/s", len(rs))
            for p, rs in sorted(by_path.items())
        }

    def _scan(self, path: str) -> Op:
        query = SCAN_PATHS[path][1].format(n=f"s_{path}")
        want = self.expected[path]
        if path == "udaf":
            def check(rows):
                got = {r[0]: r[1] for r in rows}
                return None if got == want else "grouped sums differ from DuckDB"
        else:
            def check(rows):
                got = rows[0][0]
                return None if got == want else f"got {got}, DuckDB {want}"
        rows_in = self.slice_rows if path == "udtf" else self.rows
        return Op("scan", lambda: self.spark.sql(query), _collect, check,
                  rows_in=rows_in, attrs={"path": path})


# --- corpus_headliners --------------------------------------------------------

#: A fixed subset of ``bench.py``'s headliners: join, window, grouped
#: pandas map and k-means (an eager-checkpoint loop). It is small enough
#: for a run to make two passes, the first in a cold session; the four
#: UDF-ladder queries are left to ``udf_scan``.
CORPUS = [
    "q05_regional_revenue",
    "q10_window_rank",
    "q26_grouped_zscore",
    "q61_kmeans",
]


class CorpusHeadliners:
    name = "corpus_headliners"
    round_s = 6.0
    trace_rounds = 1

    def __init__(self, seed: int, size: str):
        self.seed = seed
        n = SIZES[size]["corpus"]
        self.names = CORPUS[:n] if n else CORPUS
        self._oracle: dict[str, Any] = {}
        self._con = None

    def prepare(self, spark, sess, dirs) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.sf_dir = str(DATA_DIR)
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.builders = {n: queries[n] for n in self.names}
        self.oracle_sql = {n: oracles[n] for n in self.names}

    def rounds(self, tag: str) -> Iterator[list[Op]]:
        r = 0
        while True:
            rng = random.Random(f"{self.seed}:{tag}:{r}")
            yield [self._query(n) for n in rng.sample(self.names, len(self.names))]
            r += 1

    @staticmethod
    def details(ok) -> dict:
        by_query: dict[str, list] = {}
        for r in ok:
            by_query.setdefault(r.op.attrs["query"], []).append(r)
        out = {}
        for q, rs in sorted(by_query.items()):
            out.update(_latency_ms(q, rs))
        return out

    def _query(self, name: str) -> Op:
        build = self.builders[name]
        return Op("query", lambda: build(self.spark, self.sf_dir), _to_pandas,
                  lambda pdf: frames_equal(pdf, self._oracle_frame(name)),
                  attrs={"query": name})

    def _oracle_frame(self, name: str):
        if self._con is None:
            import duckdb

            from adhesive_spark.sources.registry import TABLES

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR / t}.parquet'"
                )
        if name not in self._oracle:
            self._oracle[name] = self._con.execute(self.oracle_sql[name]).fetchdf()
        return self._oracle[name]


WORKLOADS = {w.name: w for w in (InteractiveDdl, UdfScan, CorpusHeadliners)}
