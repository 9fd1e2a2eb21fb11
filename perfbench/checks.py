"""Output checks, run once per run after the timed passes.

Batch queries are compared against their DuckDB oracle with the same
normalized value hash ``scripts/selfcheck.py`` uses. Stream runners are
compared against their batch twins.
"""

from __future__ import annotations

import importlib.util
import os

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load_value_hash(root: str):
    """``value_hash`` from the checkout's ``scripts/selfcheck.py``."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_selfcheck", os.path.join(root, "scripts", "selfcheck.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def pandas_rows(pdf) -> tuple[list[str], list[tuple]]:
    return list(pdf.columns), [
        tuple(r) for r in pdf.itertuples(index=False, name=None)
    ]


def compare(got_cols, got_rows, want: dict, hash_fn) -> str | None:
    """``None`` when the output matches ``want`` (its ``rows`` count,
    ``cols`` and value ``hash``), else the reason."""
    if len(got_rows) != want["rows"]:
        return f"rows {len(got_rows)} != {want['rows']}"
    if sorted(got_cols) != sorted(want["cols"]):
        return f"cols {sorted(got_cols)} != {sorted(want['cols'])}"
    h = hash_fn(got_rows, got_cols)
    if h != want["hash"]:
        return f"value-hash {h} != {want['hash']}"
    return None


class OracleChecker:
    """Checks batch query outputs; one DuckDB connection per run."""

    def __init__(self, root: str, sf_dir: str, oracles: dict[str, str]):
        self.hash_fn = load_value_hash(root)
        self.sf_dir = sf_dir
        self.oracles = oracles
        self._con = None

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        return self._con

    def expected(self, name: str) -> dict:
        odf = self._duck().execute(self.oracles[name]).fetchdf()
        cols, rows = pandas_rows(odf)
        return {"rows": len(rows), "cols": cols, "hash": self.hash_fn(rows, cols)}

    def check(self, name: str, pdf) -> str | None:
        cols, rows = pandas_rows(pdf)
        return compare(cols, rows, self.expected(name), self.hash_fn)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def report_mismatch(got, want) -> str | None:
    """Frequent-items reports agree on everything but the batch count,
    which follows the cut points."""
    import dataclasses

    a = dataclasses.asdict(dataclasses.replace(got, batches=0))
    b = dataclasses.asdict(dataclasses.replace(want, batches=0))
    diff = sorted(k for k in a if a[k] != b[k])
    return f"stream report differs from batch replay in {diff}" if diff else None


def sessions_mismatch(stream_rows, batch_rows) -> str | None:
    """Streamed closed sessions must equal the batch sessions minus each
    user's last (still open) one. ``stream_rows``: (user_id,
    session_start, n_events, session_value); ``batch_rows``: (user_id,
    session_id, n_events, session_value). Values are compared to the
    cent: the stream sums doubles, the batch twin sums decimals."""
    by_user: dict[int, list] = {}
    for uid, sid, n, v in batch_rows:
        by_user.setdefault(uid, []).append((sid, n, v))
    want = []
    for uid, sess in by_user.items():
        sess.sort()
        want += [(uid, n, v) for _sid, n, v in sess[:-1]]
    got = [(uid, n, v) for uid, _start, n, v in sorted(stream_rows)]
    want.sort(key=lambda r: r[0])  # stable: keeps each user's session order
    if len(got) != len(want):
        return f"closed sessions {len(got)} != {len(want)}"
    for g, w in zip(got, want):
        if g[0] != w[0] or g[1] != w[1] or abs(g[2] - w[2]) > 0.011:
            return f"session {g} != {w}"
    return None
