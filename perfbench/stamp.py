"""Run stamp: the settings a result was measured under.

Wall-clock figures are comparable only between results taken under the same
settings, so every result carries a stamp and `check_mergeable` /
`check_comparable` refuse mixed sets instead of silently combining them.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess

# Must match for any two results to be compared (A/B across code versions).
COMPARE_KEYS = ("workload", "scale", "cores", "run_seconds", "trace", "spark", "java", "python")
# Must also match to merge results into one sample (same code, other seeds).
MERGE_KEYS = COMPARE_KEYS + ("git_head", "source_sha")


def _git_head(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "none"
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def source_sha(root: str) -> str:
    """Hash of the program's sources, so checkouts without git metadata
    still say which code produced a result."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for sub in ("hdp_tez_spark", "tools"):
        for d, dirs, names in os.walk(os.path.join(root, sub)):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30).stderr
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.splitlines()[0].strip() if out else "unknown"


def make_stamp(root: str, workload: str, scale: int, seed: int, cores: int, run_seconds: int, trace: bool) -> dict:
    import pyspark

    return {
        "workload": workload,
        "scale": scale,
        "seed": seed,
        "cores": cores,
        "run_seconds": run_seconds,
        "trace": trace,
        "git_head": _git_head(root),
        "source_sha": source_sha(root),
        "spark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
    }


def _check(stamps: list[dict], keys: tuple[str, ...], what: str) -> None:
    for key in keys:
        values = {str(s.get(key)) for s in stamps}
        if len(values) > 1:
            raise ValueError(f"refusing to {what} results whose stamps differ in {key!r}: {sorted(values)}")


def check_mergeable(stamps: list[dict]) -> None:
    _check(stamps, MERGE_KEYS, "merge")


def check_comparable(stamps: list[dict]) -> None:
    _check(stamps, COMPARE_KEYS, "compare")
