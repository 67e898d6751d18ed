"""Byte-parity against the reference's own golden reports.

Feeds the reference's fixture battle logs
(stats/src/test/testdata/logs/**) through the production engine
(parse_battles → sides/mons frames → usage/leads/battle_counts
aggregates) with a curated real-gen-data payload, renders the LEGACY
usage and leads reports, and compares byte-for-byte against the
reference's checked-in goldens (stats/src/test/testdata/reports/**) —
the check integration.test.ts runs on the TypeScript side."""

import os

import pytest

from stats_spark.parity import fixtures, run

pytestmark = pytest.mark.skipif(
    not os.path.exists(fixtures.LOGS),
    reason="reference fixture logs not available")

CUTOFFS = [0, 1500, 1630, 1760]


# formats() lists the fixture directory, so it is only called when that
# directory exists: pytest evaluates params at collection, before the
# module's skipif applies
@pytest.fixture(scope="module",
                params=(fixtures.formats()
                        if os.path.exists(fixtures.LOGS) else []))
def fmt_frames(request, spark):
    fmt = request.param
    frames = run.build_format_frames(spark, fmt)
    run.add_metagame_frames(spark, fmt, frames)
    run.add_detailed_frames(spark, fmt, frames)
    # cache + materialize every frame once: the 6 report renders × 4
    # cutoffs each issue several tiny collects per frame
    from pyspark.sql import DataFrame
    for k, v in frames.items():
        if isinstance(v, DataFrame):
            frames[k] = v.cache()
            frames[k].count()
    return fmt, frames


def test_no_parse_rejects(fmt_frames):
    fmt, frames = fmt_frames
    errs = frames["battles"].filter("error IS NOT NULL").collect()
    assert not errs, [(r.conv_id, r.error) for r in errs]


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_usage_byte_parity(fmt_frames, cutoff):
    fmt, frames = fmt_frames
    got = run.render_usage(fmt, cutoff, frames)
    want = fixtures.golden(fmt, "usage", cutoff)
    assert got == want


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_leads_byte_parity(fmt_frames, cutoff):
    fmt, frames = fmt_frames
    got = run.render_leads(fmt, cutoff, frames)
    want = fixtures.golden(fmt, "leads", cutoff)
    assert got == want


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_metagame_byte_parity(fmt_frames, cutoff):
    """Exercises the full legacy classifier (stalliness modifiers,
    weather/style tags, monotype) + the stalliness histogram."""
    fmt, frames = fmt_frames
    got = run.render_metagame(fmt, cutoff, frames)
    want = fixtures.golden(fmt, "metagame", cutoff)
    assert got == want


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_movesets_byte_parity(fmt_frames, cutoff):
    """Exercises the moveset maps (m-weights), legacy spreads
    (gen-aware stat math), viability, teammates (incl. the empty-slot
    overwrite quirk), checks & counters and the truncation rules."""
    fmt, frames = fmt_frames
    got = run.render_movesets_txt(fmt, cutoff, frames)
    want = fixtures.golden(fmt, "movesets", cutoff)
    assert got == want


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_detailed_byte_parity(fmt_frames, cutoff):
    """The chaos JSON: exact key ordering (usage ranking + display-name
    tie-broken maps + JS integer-key enumeration) and JS number
    formatting."""
    fmt, frames = fmt_frames
    got = run.render_detailed(fmt, cutoff, frames)
    want = fixtures.golden(fmt, "detailed", cutoff)
    assert got == want


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_display_byte_parity(fmt_frames, cutoff):
    """Display.fromStatistics: unique-player aggregates, win/lead
    ratios with JS NaN->null semantics, computed-stats maps, and the
    json-stringify-pretty-compact layout."""
    fmt, frames = fmt_frames
    got = run.render_display(fmt, cutoff, frames)
    want = fixtures.golden(fmt, "display", cutoff)
    assert got == want


@pytest.mark.parametrize("type_", ["singles", "doubles", "nationaldex",
                                   "littlecup"])
def test_tier_update_byte_parity(spark, type_):
    """W10 against the reference's OWN tier-update goldens
    (testdata/stats/update/*.txt, written by integration.ts:162): the
    vendored tiers.json + 3 months of real usage reports run through
    parseUsageReport → n-weighted month merge → the Spark ladder
    (plans/tiers.py:tier_update with the reference LadderConfig) →
    makeTable + moved-from rendering, byte-for-byte."""
    from stats_spark.parity import tier_goldens as tg
    assert tg.tier_update_report(spark, type_) == tg.golden(type_)
