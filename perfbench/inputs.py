"""Seeded benchmark inputs: the transcript corpus and its reference answers.

Both are a pure function of ``(seed, n_convs, corpus.datagen_version())``
and are cached under ``.bench_build/perfbench/corpus/`` in the checkout,
so a second run on the same seed skips generation.  The program under
test only ever sees the two parquet paths.
"""

from __future__ import annotations

import math
import os
import pickle
import shutil
from dataclasses import dataclass

from stats_spark.datagen import corpus

# The reference anonymizer's whitelist of protocol line types
# (anon/src/index.ts:165-412).  Kept here, not imported from the
# program, so a change to the program's whitelist shows as a mismatch.
ANON_KEEP_TYPES = frozenset({
    "player", "teamsize", "start", "turn", "move", "switch", "drag",
    "replace", "faint", "win", "tie", "-enditem", "-damage", "-heal",
    "-status", "-boost", "-unboost", "cant", "-miss", "-crit",
})


@dataclass(frozen=True)
class Inputs:
    dir: str
    n_convs: int
    n_turns: int
    public_lines: int
    public_kept_lines: int

    @property
    def paths(self) -> dict:
        return {"transcripts": os.path.join(self.dir, "transcripts.parquet"),
                "conversations": os.path.join(self.dir, "conversations.parquet"),
                "dir": self.dir}



def _write_parquet(pdf, path: str, partition_cols=None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark reads no TIMESTAMP(NANOS): store microseconds
    table = table.cast(pa.schema([
        pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type)
        else f for f in table.schema]))
    if partition_cols:
        pq.write_to_dataset(table, root_path=path, partition_cols=partition_cols)
    else:
        pq.write_table(table, path)


def _public_lines(convs, turns) -> tuple[int, int]:
    """(all, kept-type) transcript lines of the public conversations —
    password rooms (roomid ending in "pw") never leave the system."""
    public = turns["conv_id"].isin(
        set(convs.loc[~convs["roomid"].str.endswith("pw"), "conv_id"]))
    kinds = turns["text"].str.split("|").str[1].fillna("")
    return int(public.sum()), int((public & kinds.isin(ANON_KEEP_TYPES)).sum())


def ensure_inputs(cache_root: str, seed: int, n_convs: int,
                  with_reference: bool) -> Inputs:
    """Generate (or reuse) the corpus for ``seed``; with
    ``with_reference`` also the oracle's answers for the stats sinks."""
    key = f"s{seed}_n{n_convs}_{corpus.datagen_version()}"
    d = os.path.join(cache_root, "corpus", key)
    meta_path = os.path.join(d, "meta.pkl")
    ref_path = os.path.join(d, "reference.pkl")
    have_ref = os.path.exists(ref_path) or not with_reference
    if not (os.path.exists(meta_path) and have_ref):
        convs, turns = corpus.generate_pandas(n_convs, seed=seed)
        if not os.path.exists(meta_path):
            tmp = d + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            _write_parquet(turns, os.path.join(tmp, "transcripts.parquet"),
                           partition_cols=["format"])
            _write_parquet(convs, os.path.join(tmp, "conversations.parquet"))
            public, kept = _public_lines(convs, turns)
            _dump(dict(n_convs=n_convs, n_turns=len(turns),
                       public_lines=public, public_kept_lines=kept),
                  os.path.join(tmp, "meta.pkl"))
            shutil.rmtree(d, ignore_errors=True)
            os.rename(tmp, d)
        if with_reference:
            _dump(reference_answers(convs, turns), ref_path)
    with open(meta_path, "rb") as f:
        return Inputs(dir=d, **pickle.load(f))


def _dump(obj, path: str) -> None:
    with open(path + ".tmp", "wb") as f:
        pickle.dump(obj, f)
    os.rename(path + ".tmp", path)


def load_reference(inp: Inputs) -> dict:
    with open(os.path.join(inp.dir, "reference.pkl"), "rb") as f:
        return pickle.load(f)


def reference_answers(convs, turns) -> dict:
    """Expected contents of every stats sink, from the plain-Python
    oracle in ``tests/oracle.py``, keyed the way ``check.check_stats``
    reads the sinks back."""
    from tests import oracle as O

    o, _battles, rejects = O.run_oracle(convs, turns)
    usage_cols = ["raw_count", "raw_weight", "saved_count", "saved_weight",
                  "usage_raw", "usage_real", "usage_weighted",
                  "win_raw", "win_real", "win_weighted"]
    tagged_cols = ["raw_count", "raw_weight", "usage_raw", "usage_real",
                   "usage_weighted", "win_raw", "win_weighted"]
    totals_cols = ["usage_raw", "usage_real", "usage_weighted",
                   "win_raw", "win_real", "win_weighted", "raw_count"]
    stall: dict = {}
    for (f, c, v), w in o.stalliness.items():
        stall.setdefault((f, c), []).append((v, w))
    return dict(
        usage={k: tuple(v.get(c, 0) for c in usage_cols)
               for k, v in o.usage.items()},
        usage_tagged={k: tuple(v.get(c, 0) for c in tagged_cols)
                      for k, v in o.usage_tagged.items()},
        usage_totals={k: tuple(v.get(c, 0) for c in totals_cols)
                      for k, v in o.totals.items()},
        moveset={k: tuple(v) for k, v in o.moveset.items()},
        teammates=dict(o.teammates),
        encounters={k: tuple(v) for k, v in o.encounters.items()},
        leads={k: (v["lead_raw"], v["lead_real"], v["lead_weighted"])
               for k, v in o.leads.items()},
        battle_counts={k: v for k, v in o.battles.items() if v > 0},
        metagame=dict(o.metagame),
        stalliness={k: sorted(v) for k, v in stall.items()},
        viability=_viability(o.unique),
        rejects=sorted(cid for cid, _err in rejects),
    )


def _viability(unique: dict) -> dict:
    """W6 viability ceiling [n, max, p1, p20] re-derived from the
    oracle's per-(species, player) gxe: the order statistics at ranks 1,
    ceil(0.01 n) and ceil(0.2 n) of the descending gxe list."""
    by_species: dict = {}
    for (f, c, sp, _player), (_r, _w, g) in unique.items():
        if g is not None:
            by_species.setdefault((f, c, sp), []).append(g)
    out = {}
    for k, gs in by_species.items():
        gs.sort(reverse=True)
        n = len(gs)
        out[k] = (n, gs[0], gs[math.ceil(0.01 * n) - 1],
                  gs[math.ceil(0.2 * n) - 1])
    return out
