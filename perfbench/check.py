"""Correctness gate for one pipeline pass, run outside the timed window.

A pass is correct when:

* it wrote exactly the expected urls, once each (for a resumed run: the
  urls the committed state does not hold);
* every written row equals the oracle's golden row on markdown,
  extracted_text, n_images and error (the expected error text must occur
  in the written one, as in ``tests/test_spark_e2e.py``);
* its hard-failed and partial counts equal the generator's expected ones;
* its lineage sidecar rows sum ``url_count`` to the written rows and the
  job row says SUCCESS.
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

OUT_COLS = ["url", "markdown", "extracted_text", "n_images", "error"]
PARTIAL = "PartialExtraction:"


def load_golden(path: str) -> dict[str, dict]:
    return {r["url"]: r for r in pq.read_table(path).to_pylist()}


def committed_urls(output_dir: str) -> set[str]:
    """Urls of every committed (``_SUCCESS``-marked) run directory."""
    root = os.path.join(output_dir, "extracted")
    urls: set[str] = set()
    if not os.path.isdir(root):
        return urls
    for d in sorted(os.listdir(root)):
        run = os.path.join(root, d)
        if os.path.exists(os.path.join(run, "_SUCCESS")):
            urls.update(pq.read_table(run, columns=["url"]).column("url").to_pylist())
    return urls


def expected_counts(golden: dict[str, dict], urls) -> tuple[int, int]:
    """(hard-failed, partial) docs the generator expects among ``urls``."""
    failed = partial = 0
    for u in urls:
        g = golden[u]
        failed += g["markdown"] is None
        partial += (g["error_expected"] or "").startswith(PARTIAL)
    return failed, partial


def row_matches(got: dict, want: dict) -> bool:
    if want["error_expected"] is None:
        if got["error"] is not None:
            return False
    elif got["error"] is None or want["error_expected"] not in got["error"]:
        return False
    return (
        got["markdown"] == want["markdown"]
        and got["extracted_text"] == want["extracted_text"]
        and got["n_images"] == want["n_images"]
    )


def check_pass(output_dir: str, run_id: str, golden: dict[str, dict], expected: set[str]) -> dict:
    """Check one pass's run directory and sidecar; returns its counts and
    ``mismatches``, a list of short problem descriptions (empty when
    correct)."""
    run = os.path.join(output_dir, "extracted", f"run_id={run_id}")
    problems: list[str] = []
    if not os.path.exists(os.path.join(run, "_SUCCESS")):
        return {"mismatches": [f"{run_id}: no _SUCCESS marker"], "written": 0, "bad_rows": len(expected)}
    table = pq.read_table(run, columns=OUT_COLS)
    rows = table.to_pylist()
    urls = [r["url"] for r in rows]
    written = set(urls)
    bad = 0
    if len(written) != len(urls):
        problems.append(f"{len(urls) - len(written)} duplicate urls")
    missing = expected - written
    extra = written - expected
    if missing or extra:
        problems.append(f"{len(missing)} expected urls missing, {len(extra)} unexpected urls written")
        bad += len(missing) + len(extra)
    for r in rows:
        want = golden.get(r["url"])
        if want is not None and not row_matches(r, want):
            bad += 1
            if bad <= 3:
                problems.append(f"mismatch at {r['url']}")
    failed = int(pc.sum(pc.is_null(table.column("markdown"))).as_py() or 0)
    partial = sum(1 for r in rows if (r["error"] or "").startswith(PARTIAL))
    want_failed, want_partial = expected_counts(golden, expected)
    if (failed, partial) != (want_failed, want_partial):
        problems.append(
            f"failed/partial {failed}/{partial} != expected {want_failed}/{want_partial}"
        )

    side = pq.read_table(os.path.join(output_dir, "extraction_runs")).to_pylist()
    mine = [s for s in side if s["run_id"] == run_id]
    parts = [s for s in mine if s["partition_id"] >= 0]
    jobs = [s for s in mine if s["partition_id"] == -1]
    if sum(s["url_count"] for s in parts) != len(rows):
        problems.append("sidecar url_count does not sum to the written rows")
    if len(jobs) != 1 or jobs[0]["status"] != "SUCCESS" or jobs[0]["url_count"] != len(rows):
        problems.append("sidecar job row missing or wrong")

    files = [f for f in os.listdir(run) if f.startswith("part-")]
    return {
        "mismatches": problems,
        "bad_rows": bad,
        "written": len(rows),
        "failed": failed,
        "partial": partial,
        "out_files": len(files),
        "out_bytes": sum(os.path.getsize(os.path.join(run, f)) for f in files),
        "sidecar_rows": len(mine),
    }
