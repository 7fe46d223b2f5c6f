"""Output checks: word-count result files and the gate's DuckDB oracle."""
import re
import subprocess
import sys
from pathlib import Path


def check_wordcount(out_dir, user_id, n_outputs, expected):
    """Problems with one word-count job's output, as strings (empty = ok).

    The job must leave exactly `n_outputs` files `{user_id}_result_{r}`,
    keys sorted within each file, no key in two files, and the union of
    all files equal to `expected` ({word: count}).
    """
    problems = []
    pattern = re.compile(re.escape(user_id) + r"_result_(\d+)$")
    files = sorted(p for p in Path(out_dir).iterdir() if pattern.match(p.name))
    want = {f"{user_id}_result_{r}" for r in range(n_outputs)}
    if {p.name for p in files} != want:
        problems.append(f"result files {[p.name for p in files]} != {sorted(want)}")
    seen = {}
    for p in files:
        prev = None
        for line in p.read_text().splitlines():
            key, _, count = line.rpartition(" ")
            if prev is not None and key <= prev:
                problems.append(f"{p.name}: key {key!r} not after {prev!r}")
                break
            prev = key
            if key in seen:
                problems.append(f"{p.name}: key {key!r} also in {seen[key][0]}")
                break
            seen[key] = (p.name, int(count))
    got = {k: c for k, (_, c) in seen.items()}
    if got != expected:
        missing = len(expected.keys() - got.keys())
        extra = len(got.keys() - expected.keys())
        wrong = sum(1 for k in got.keys() & expected.keys() if got[k] != expected[k])
        problems.append(f"counts differ: {missing} missing, {extra} extra, {wrong} wrong")
    return problems


def check_oracle(verify_script, data_dir, verify_dir):
    """Run the repository's DuckDB oracle comparison on dumped results.

    Returns {"exact", "ulp", "fail", "rows_only": counts, "failed": names}.
    """
    out = subprocess.run([sys.executable, str(verify_script), str(data_dir), str(verify_dir)],
                         capture_output=True, text=True, timeout=120).stdout
    counts = {"exact": 0, "ulp": 0, "fail": 0, "rows_only": 0, "failed": []}
    for line in out.splitlines():
        if line.startswith("✓"):
            counts["exact"] += 1
        elif line.startswith("≈"):
            counts["ulp"] += 1
        elif line.startswith("✗"):
            counts["fail"] += 1
            counts["failed"].append(line[2:].split(":")[0])
        elif line.strip().startswith("[rows-only]"):
            counts["rows_only"] += 1
    return counts
