"""Reference checks for the benchmark's outputs.

Every output is compared with its DuckDB oracle through the normalise, type
and hash functions of ``tools/check_oracle.py`` (imported, not copied), so
the benchmark and the oracle gate agree on what "equal" means.
Oracle results are cached on disk per input digest and oracle text. A cache
miss is computed in a child process, outside any timed region, so the
benchmark's own process never holds DuckDB's memory and its peak RSS does
not depend on the cache.

    python3 perfbench/reference.py REQUEST.json   # the child: fill the cache
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_check_oracle(root: str = ROOT):
    """Import ``tools/check_oracle.py`` from the repository at ``root``."""
    path = os.path.join(root, "tools", "check_oracle.py")
    if not os.path.exists(path):
        raise ImportError(f"no {path}")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def summary(check_oracle, res) -> dict:
    """Columns, types, row count and value hash of a DuckDB result."""
    cols, rows, types = check_oracle.fetch_duck(res)
    h, n = check_oracle.frame_hash(cols, rows)
    return {"cols": sorted(cols), "types": types, "hash": h, "rows": n}


class Reference:
    """Expected results for one generated input set."""

    def __init__(self, check_oracle, sf_dir: str, cache_dir: str):
        self.co = check_oracle
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def _path(self, name: str, sql: str) -> str:
        key = hashlib.sha256(sql.encode()).hexdigest()[:12]
        return os.path.join(self.cache_dir, f"{name}-{key}.json")

    def expected(self, queries: dict[str, str]) -> dict[str, dict]:
        """Oracle summaries of ``{name: sql}``."""
        paths = {name: self._path(name, sql) for name, sql in queries.items()}
        missing = {n: sql for n, sql in queries.items() if not os.path.exists(paths[n])}
        if missing:
            req = os.path.join(self.cache_dir, f"request-{os.getpid()}.json")
            with open(req, "w") as f:
                json.dump({"sf_dir": self.sf_dir, "queries": missing}, f)
            try:
                subprocess.run([sys.executable, os.path.abspath(__file__), req], check=True)
            finally:
                os.remove(req)
        out = {}
        for name, path in paths.items():
            with open(path) as f:
                out[name] = json.load(f)
        return out

    def query_summary(self, sql: str) -> dict:
        """Summary of an uncached DuckDB query over the generated inputs."""
        con = self.co.duck_connect(self.sf_dir)
        try:
            return summary(self.co, con.execute(sql))
        finally:
            con.close()

    def spark_summary(self, df) -> dict:
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        h, n = self.co.frame_hash(cols, rows)
        return {"cols": sorted(cols), "types": self.co.type_map_spark(df), "hash": h, "rows": n}

    @staticmethod
    def mismatch(got: dict, exp: dict) -> str | None:
        """None when ``got`` equals ``exp``, else what differs."""
        if got["cols"] != exp["cols"]:
            return f"columns {got['cols']} != {exp['cols']}"
        types = {
            c: (got["types"].get(c), exp["types"].get(c))
            for c in got["cols"]
            if got["types"].get(c) != exp["types"].get(c)
        }
        if types:
            return f"types {types}"
        if got["rows"] != exp["rows"]:
            return f"rows {got['rows']} != {exp['rows']}"
        if got["hash"] != exp["hash"]:
            return f"hash {got['hash']} != {exp['hash']} (rows={got['rows']})"
        return None


def fill_cache(request_path: str) -> None:
    with open(request_path) as f:
        req = json.load(f)
    co = load_check_oracle()
    ref = Reference(co, req["sf_dir"], os.path.dirname(os.path.abspath(request_path)))
    con = co.duck_connect(req["sf_dir"])
    try:
        for name, sql in req["queries"].items():
            path = ref._path(name, sql)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(summary(co, con.execute(sql)), f)
            os.replace(tmp, path)
    finally:
        con.close()


if __name__ == "__main__":
    fill_cache(sys.argv[1])
