"""Correctness checks, one per workload.  Each returns a list of
problems (empty when the output is right); the workloads count a
failed check against their attempted operations.  Pure functions over
plain Python / pandas values, so the benchmark's tests can feed them
deliberately wrong results."""

from __future__ import annotations

import functools
import importlib.util
import os

from harness import REPO


def check_tallies(got_cand: dict, want_cand: dict, got_nat: dict, want_nat: dict) -> list[str]:
    """vote_stream: the final upserted tallies equal the generator's own
    per-candidate and per-nation counts."""
    out = []
    for label, got, want in (("candidate", got_cand, want_cand), ("nation", got_nat, want_nat)):
        for k in sorted(set(got) | set(want), key=str):
            if int(got.get(k, 0)) != int(want.get(k, 0)):
                out.append(f"{label} {k}: {got.get(k, 0)} != {want.get(k, 0)}")
    return out


@functools.cache
def _parity():
    """``normalize`` / ``value_hash`` from tools/check_parity.py, the
    repo's own replica of the oracle comparison."""
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(REPO, "tools", "check_parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_query(spark_pdf, oracle_pdf) -> list[str]:
    """election_analytics: a query's rows equal its DuckDB twin's on row
    count, columns and order-insensitive value hash."""
    p = _parity()
    s, d = p.normalize(spark_pdf), p.normalize(oracle_pdf)
    if len(s) != len(d):
        return [f"rows {len(s)} != {len(d)}"]
    if list(s.columns) != list(d.columns):
        return [f"columns {list(s.columns)} != {list(d.columns)}"]
    if p.value_hash(s) != p.value_hash(d):
        return ["value hash mismatch"]
    return []


def check_manifest(manifest: dict, rows_read_back: int) -> list[str]:
    """corpus_curation: the manifest's ``n_written_docs`` equals the rows
    read back from the written corpus, and the job wrote something."""
    written = manifest.get("n_written_docs")
    if written is None:
        return ["manifest has no n_written_docs"]
    if int(written) != int(rows_read_back):
        return [f"n_written_docs {written} != {rows_read_back} rows read back"]
    if int(written) <= 0:
        return ["no documents written"]
    return []
