"""Output checks: every timed run's result is compared with the reference.

The stats sinks are read back from parquet with pyarrow (no Spark job,
so checking adds nothing to the program's own metrics) and compared
with the oracle's answers the same way ``tests/test_golden_aggregates.py``
compares the Spark frames.  Each check returns a list of mismatch
descriptions; an empty list means the run is correct.
"""

from __future__ import annotations

import glob
import os

REL = 1e-9
ABS = 1e-12


def parquet_rows(path: str) -> int:
    """Row count of a parquet tree from its file footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True))


def _rows(path: str, cols: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _close(a, b, rel=REL, abs_=ABS) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= max(rel * abs(b), abs_)


def _compare_map(got: dict, want: dict, what: str, errors: list) -> None:
    missing = set(want) - set(got)
    extra = set(got) - set(want)
    if missing:
        errors.append(f"{what}: {len(missing)} missing keys, "
                      f"e.g. {sorted(missing, key=repr)[:3]}")
    if extra:
        errors.append(f"{what}: {len(extra)} extra keys, "
                      f"e.g. {sorted(extra, key=repr)[:3]}")
    for k in set(want) & set(got):
        g, w = got[k], want[k]
        pairs = zip(g, w) if isinstance(w, tuple) else [(g, w)]
        if not all(_close(a, b) for a, b in pairs):
            errors.append(f"{what}[{k}]: {g} != {w}")
            return


def _keyed(path, key_cols, val_cols):
    one = len(val_cols) == 1
    return {r[:len(key_cols)]: (r[-1] if one else r[len(key_cols):])
            for r in _rows(path, key_cols + val_cols)}


def check_stats(out_dir: str, ref: dict) -> list[str]:
    """Compare the 11 routed sinks and the rejects route with ``ref``."""
    errors: list[str] = []
    fc = ["format", "cutoff"]

    def sink(name):
        return os.path.join(out_dir, name)

    try:
        _compare_map(_keyed(sink("usage"), fc + ["species"],
                            ["raw_count", "raw_weight", "saved_count",
                             "saved_weight", "usage_raw", "usage_real",
                             "usage_weighted", "win_raw", "win_real",
                             "win_weighted"]),
                     ref["usage"], "usage", errors)
        _compare_map(_keyed(sink("usage_tagged"), fc + ["tag", "species"],
                            ["raw_count", "raw_weight", "usage_raw",
                             "usage_real", "usage_weighted", "win_raw",
                             "win_weighted"]),
                     ref["usage_tagged"], "usage_tagged", errors)
        _compare_map(_keyed(sink("usage_totals"), fc,
                            [f"total_{c}" for c in
                             ("usage_raw", "usage_real", "usage_weighted",
                              "win_raw", "win_real", "win_weighted",
                              "raw_count")]),
                     ref["usage_totals"], "usage_totals", errors)
        _compare_map(_keyed(sink("moveset"),
                            fc + ["species", "section", "key"],
                            ["weight", "raw"]),
                     ref["moveset"], "moveset", errors)
        _compare_map(_keyed(sink("teammates"), fc + ["species", "teammate"],
                            ["weight"]),
                     ref["teammates"], "teammates", errors)
        _compare_map(_keyed(sink("encounters"), fc + ["species", "opponent"],
                            [f"o{i}" for i in range(13)]),
                     ref["encounters"], "encounters", errors)
        _compare_map(_keyed(sink("leads"), fc + ["species"],
                            ["lead_raw", "lead_real", "lead_weighted"]),
                     ref["leads"], "leads", errors)
        _compare_map({k: v for k, v in
                      _keyed(sink("battle_counts"), fc, ["battles"]).items()
                      if v > 0},
                     ref["battle_counts"], "battle_counts", errors)
        _compare_map(_keyed(sink("metagame"), fc + ["tag"], ["weight"]),
                     ref["metagame"], "metagame", errors)
        _compare_map(_keyed(sink("viability"), fc + ["species"],
                            ["n", "gxe_max", "gxe_p1", "gxe_p20"]),
                     ref["viability"], "viability", errors)
        _check_stalliness(sink("stalliness"), ref["stalliness"], errors)
        got_rej = sorted(r[0] for r in _rows(sink("rejects"), ["conv_id"]))
        if got_rej != ref["rejects"]:
            errors.append(f"rejects: {len(got_rej)} conv_ids, "
                          f"expected {len(ref['rejects'])}")
    except (OSError, KeyError, ValueError) as e:
        # a sink that is absent or lacks a column is a wrong result
        errors.append(f"unreadable sink: {type(e).__name__}: {e}")
    return errors


def _check_stalliness(path: str, want: dict, errors: list) -> None:
    # float group keys differ in the last ulp between the JVM and libm:
    # compare each group's sorted (value, weight) pairs with tolerance
    got: dict = {}
    for f, c, v, w in _rows(path, ["format", "cutoff", "stalliness",
                                   "weight"]):
        got.setdefault((f, c), []).append((v, w))
    if set(got) != set(want):
        errors.append(f"stalliness: groups {len(got)} != {len(want)}")
        return
    for k, pairs in got.items():
        g, w = sorted(pairs), want[k]
        if len(g) != len(w) or not all(
                _close(gv, wv, 1e-9, 1e-9) and _close(gw, ww)
                for (gv, gw), (wv, ww) in zip(g, w)):
            errors.append(f"stalliness[{k}] differs")
            return


def check_anon(out_path: str, leaks: int, expected_lines: int) -> list[str]:
    errors = []
    if leaks != 0:
        errors.append(f"anon: {leaks} lines leak an original player name")
    try:
        got = parquet_rows(out_path)
    except OSError as e:
        return errors + [f"anon: output unreadable: {e}"]
    if got != expected_lines:
        errors.append(f"anon: {got} lines written, expected {expected_lines} "
                      "kept-type lines of the public sample")
    return errors

