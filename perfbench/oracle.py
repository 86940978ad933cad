"""DuckDB oracle answers, computed once per (oracle SQL, input data)
and cached, and the check of a program output against them.

Hashing is the canonical form of tools/check_oracle.py: columns sorted
by name, rows sorted by all columns, every cell rendered by its `cell`
function. The row hash here walks columns instead of rows, which gives
the same digest much faster (pinned by the benchmark's tests)."""
import hashlib
import json
import multiprocessing
import os
import resource
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from check_oracle import canon, cell  # noqa: E402

# DuckDB's share of the box while it computes an answer, and how long
# one answer may take. An oracle past either limit is reported by name
# as unverified, never as passed.
MEMORY_LIMIT = "2GB"
THREADS = 2
TIME_LIMIT_S = 30.0
ADDRESS_SPACE_LIMIT = 4 << 30

# Oracles known not to finish within those limits. Their gates still
# run and still count a throw as a failure, but their output is listed
# as unverified. q_domain_reweight: its unrolled CTE chain re-inlines
# its source at every reference (ROADMAP D4).
KNOWN_UNVERIFIED = {"q_domain_reweight"}


def table_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    cols = [df[c].map(cell).tolist() for c in df.columns]
    for row in zip(*cols):
        h.update(("|".join(row) + "\n").encode())
    return h.hexdigest()


def digest(df: pd.DataFrame) -> dict:
    c = canon(df)
    return {"columns": list(c.columns), "rows": len(c), "hash": table_hash(c)}


def data_fingerprint(sf_dir: str) -> str:
    """Content hash of every input file of a data directory."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        h.update(name.encode())
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _connect(sf_dir: str, tmp_dir: str):
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{MEMORY_LIMIT}'")
    con.execute(f"SET threads={THREADS}")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET max_temp_directory_size='1GB'")
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            name = f[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    return con


def _answer_into(sf_dir: str, tmp_dir: str, sql: str, path: str):
    # DuckDB's memory limit does not bound its planner, where a
    # re-inlined CTE chain grows; the address-space limit does
    resource.setrlimit(resource.RLIMIT_AS, (ADDRESS_SPACE_LIMIT, ADDRESS_SPACE_LIMIT))
    try:
        ans = digest(_connect(sf_dir, tmp_dir).execute(sql).df())
    except BaseException as e:  # noqa: BLE001 - any oracle failure is reported by name
        ans = {"unverified": (str(e).splitlines() or [type(e).__name__])[0][:200]}
    _write(path, ans)


def _write(path: str, ans: dict):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ans, f)
    os.replace(tmp, path)


class OracleCache:
    """Answers for one data directory, one JSON file per cache key. The
    key folds in the oracle SQL and the input data's content hash, so an
    edited oracle or a different input can never reuse a stale answer."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.dir = cache_dir
        self.fp = data_fingerprint(sf_dir)
        os.makedirs(os.path.join(cache_dir, "tmp"), exist_ok=True)

    def _path(self, sql: str) -> str:
        # the data directory's own path is not part of the key
        k = hashlib.sha256((self.fp + "\0" + sql.replace(self.sf_dir, "{SF_DIR}")).encode())
        return os.path.join(self.dir, k.hexdigest()[:24] + ".json")

    def cached(self, sql: str):
        p = self._path(sql)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def get(self, name: str, sql: str) -> dict:
        """The cached answer, else compute it in a child process that is
        killed past TIME_LIMIT_S: DuckDB's own interrupt is not checked
        while it plans."""
        got = self.cached(sql)
        if got is not None:
            return got
        path = self._path(sql)
        child = multiprocessing.get_context("fork").Process(
            target=_answer_into, args=(self.sf_dir, os.path.join(self.dir, "tmp"), sql, path))
        child.start()
        child.join(TIME_LIMIT_S)
        if child.is_alive():
            child.kill()
            child.join()
            got = {"unverified": f"no answer within {TIME_LIMIT_S:.0f} s"}
            # any other oracle may finish on a quieter box: not cached
            if name in KNOWN_UNVERIFIED:
                _write(path, got)
            return got
        got = self.cached(sql)
        if got is None:
            got = {"unverified": f"oracle process exited with {child.exitcode}"}
            _write(path, got)
        return got


def check(out_path: str, want: dict, project: bool = False) -> tuple:
    """('ok' | 'mismatch' | 'unverified', detail) for one output;
    `project` compares only the columns the oracle returns."""
    if "unverified" in want:
        return "unverified", want["unverified"]
    if not os.path.exists(out_path):
        return "mismatch", "no output"
    df = pd.read_parquet(out_path)
    if project and set(want["columns"]) <= set(df.columns):
        df = df[want["columns"]]
    got = digest(df)
    for k in ("columns", "rows", "hash"):
        if got[k] != want[k]:
            return "mismatch", f"{k} differs: {str(got[k])[:80]} != {str(want[k])[:80]}"
    return "ok", f"{got['rows']} rows"
