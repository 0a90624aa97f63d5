"""bench.py self-adjudication (r10 verdict "what's wrong" #1): a
one-off timing spike must be re-timed before it reaches the artifact,
and the artifact must record what happened (`retimed` entries) so no
judge session is needed to clear it. Pure logic — no Spark."""

from __future__ import annotations

import json

import bench


def _write_wrapper(path, tail):
    """A driver wrapper artifact: timings only inside the `tail`
    stdout capture (the committed BENCH_r*.json shape)."""
    with open(path, "w") as fh:
        json.dump({"n": 1, "rc": 0, "cpus": 32, "sf": 0.1, "tail": tail}, fh)


def test_history_loader_reads_driver_wrapper_artifacts(tmp_path):
    """Synthetic wrapper artifacts in a tmpdir, mirroring the loader's
    documented failure modes: timings buried in `tail`, a tail that
    starts MID-LINE (r5's did), a non-headline key that must be
    filtered, and a later round that supersedes an earlier one (floor
    keeps the min, prev keeps the latest — including a later SPIKE, so
    prev can exceed floor)."""
    q1, q2 = sorted(bench.HEADLINE)[:2]
    # r1: full JSON line in the tail; q2 at its steady state
    _write_wrapper(
        tmp_path / "BENCH_r01.json",
        '{"queries": {"%s": 0.50, "%s": 0.30, "control_sec": 9.9, '
        '"not_a_headline_query": 1.0}}' % (q1, q2),
    )
    # r2: tail truncated mid-line (no leading '{'), q1 improved,
    # q2 spiked — prev must carry the spike, floor must not
    _write_wrapper(
        tmp_path / "BENCH_r02.json",
        'ies": {"%s": 0.40, "%s": 0.90}}\nsummary: done' % (q1, q2),
    )
    # an unparseable artifact must be skipped, not crash the loader
    (tmp_path / "BENCH_r03.json").write_text("not json at all")
    floors, prev = bench.load_bench_history(repo=str(tmp_path))
    assert set(floors) == set(prev) == {q1, q2}  # headline-filtered
    assert floors[q1] == 0.40 and prev[q1] == 0.40
    assert floors[q2] == 0.30 and prev[q2] == 0.90  # spike in prev only


def test_history_loader_accepts_raw_local_artifact(tmp_path):
    """A locally-saved raw {"queries": {...}} artifact (no wrapper) is
    also accepted."""
    q1 = sorted(bench.HEADLINE)[0]
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {q1: 0.25, "control_sec": 1.0}})
    )
    floors, prev = bench.load_bench_history(repo=str(tmp_path))
    assert floors == {q1: 0.25} and prev == {q1: 0.25}


def test_local_artifact_restores_truncated_tail_floors(tmp_path):
    """r14 verdict task 3: the driver's 2000-char tail loses ~33 of 83
    per-query timings, so floors for truncated queries silently dated
    from older rounds. A complete bench_local_r{N}.json written by
    bench.py itself must (a) supply the timings the tail lost and
    (b) supersede the tail's values for the same round."""
    q1, q2, q3 = sorted(bench.HEADLINE)[:3]
    # r1: full line — establishes old floors for all three
    _write_wrapper(
        tmp_path / "BENCH_r01.json",
        '{"queries": {"%s": 0.50, "%s": 0.50, "%s": 0.50}}' % (q1, q2, q3),
    )
    # r2 wrapper: tail truncated mid-line, q1's timing lost entirely,
    # q2 present but with a stale/garbled value the local file corrects
    _write_wrapper(
        tmp_path / "BENCH_r02.json",
        '"%s": 9.99, "%s": 0.45}}\nsummary: done' % (q2, q3),
    )
    # r2 local artifact: the COMPLETE result object bench.py persisted
    (tmp_path / "bench_local_r02.json").write_text(
        json.dumps({"metric": "headline_queries_total_runtime",
                    "queries": {q1: 0.30, q2: 0.40, q3: 0.45},
                    "control_sec": 1.0})
    )
    floors, prev = bench.load_bench_history(repo=str(tmp_path))
    assert set(floors) == {q1, q2, q3}
    assert prev[q1] == 0.30 and floors[q1] == 0.30  # recovered from local
    assert prev[q2] == 0.40 and floors[q2] == 0.40  # local beats tail 9.99
    assert prev[q3] == 0.45
    # an unparseable local artifact is skipped, never crashes, and the
    # tail-derived values stand
    (tmp_path / "bench_local_r01.json").write_text("not json")
    floors2, prev2 = bench.load_bench_history(repo=str(tmp_path))
    assert (floors2, prev2) == (floors, prev)


def test_partial_local_artifact_overlays_wrapper_tail(tmp_path):
    """r15 advice #2: a PARTIAL bench_local_r{N}.json (hand-edited,
    aborted run, older headline set) must OVERLAY the wrapper tail's
    timings for its round, not wholesale-replace them — local values
    still win on shared keys, wrapper-only keys survive."""
    q1, q2 = sorted(bench.HEADLINE)[:2]
    _write_wrapper(
        tmp_path / "BENCH_r02.json",
        '{"queries": {"%s": 9.99, "%s": 0.45}}' % (q1, q2),
    )
    (tmp_path / "bench_local_r02.json").write_text(
        json.dumps({"queries": {q1: 0.30}})  # partial: q2 missing
    )
    floors, prev = bench.load_bench_history(repo=str(tmp_path))
    assert prev[q1] == 0.30 and floors[q1] == 0.30  # local wins shared key
    assert prev[q2] == 0.45 and floors[q2] == 0.45  # wrapper-only survives


def test_tail_parser_ignores_cold_queries_first_map(tmp_path):
    """r17: the printed line carries `queries_first` (cold warmup
    times) BEFORE `queries`; cold values share headline names, so a
    tail that includes part of the cold map must not feed floors/prev.
    With the '"queries":' marker present, parsing starts at the steady
    map; without it (tail begins inside the steady map), every pair is
    already steady."""
    q1, q2 = sorted(bench.HEADLINE)[:2]
    # marker present: cold 9.0/8.0 must be skipped, steady kept
    _write_wrapper(
        tmp_path / "BENCH_r01.json",
        '"queries_first": {"%s": 9.0, "%s": 8.0}, '
        '"queries": {"%s": 0.50, "%s": 0.30}}' % (q1, q2, q1, q2),
    )
    floors, prev = bench.load_bench_history(repo=str(tmp_path))
    assert floors == {q1: 0.50, q2: 0.30}
    # marker truncated away: tail starts mid-steady-map — still steady
    _write_wrapper(
        tmp_path / "BENCH_r02.json",
        '": 0.45, "%s": 0.25}}\nsummary' % q2,
    )
    floors, prev = bench.load_bench_history(repo=str(tmp_path))
    assert prev[q2] == 0.25


def test_local_artifact_for_round_without_wrapper_counts(tmp_path):
    """The builder's own run lands bench_local_r{N}.json BEFORE the
    driver writes BENCH_r{N}.json; its round must still feed floors
    and win `prev` as the numerically newest round (r2 wrapper vs r10
    local also guards numeric — not string — round ordering)."""
    q1 = sorted(bench.HEADLINE)[0]
    _write_wrapper(
        tmp_path / "BENCH_r02.json", '{"queries": {"%s": 0.50}}' % q1
    )
    (tmp_path / "bench_local_r10.json").write_text(
        json.dumps({"queries": {q1: 0.80}})
    )
    floors, prev = bench.load_bench_history(repo=str(tmp_path))
    assert floors[q1] == 0.50 and prev[q1] == 0.80


def test_next_round_is_one_past_newest_wrapper(tmp_path):
    _write_wrapper(tmp_path / "BENCH_r02.json", "{}")
    _write_wrapper(tmp_path / "BENCH_r10.json", "{}")
    assert bench.next_round(repo=str(tmp_path)) == 11
    assert bench.next_round(repo=str(tmp_path / "empty")) == 1


def test_live_history_shape():
    """Artifact-state-independent checks against the committed
    BENCH_r*.json files: the loader finds broad headline coverage and
    every floor is <= its latest value. No assertion pins any specific
    round's timings — those change every time the driver lands a new
    artifact."""
    floors, prev = bench.load_bench_history()
    assert len(floors) >= 70  # most of the headline set has history
    assert set(floors) <= set(bench.HEADLINE)  # no control_sec etc.
    assert set(floors) == set(prev)
    for q, f in floors.items():
        assert 0 < f <= prev[q] * 1.0001


def test_spike_is_retimed_and_recorded():
    calls = []

    def retime():
        calls.append(1)
        return 0.25  # steady state on retry

    sec, entry, flagged = bench.adjudicate_timing(
        "q", 1.0, floors={"q": 0.2}, prev={"q": 0.22}, retime=retime
    )
    assert sec == 0.25 and len(calls) == 1  # stopped once under bound
    assert not flagged
    assert entry == {"first": 1.0, "final": 0.25, "bound": 0.44}
    json.dumps(entry)  # artifact-serializable


def test_persistent_slowdown_stays_flagged():
    """A REAL regression re-times RETIME_EXTRA_RUNS times, keeps the
    minimum, and is still flagged — adjudication never hides a true
    slowdown, it only retries it."""
    calls = []

    def retime():
        calls.append(1)
        return 1.0 - 0.01 * len(calls)

    sec, entry, flagged = bench.adjudicate_timing(
        "q", 1.05, floors={"q": 0.2}, prev={"q": 0.22}, retime=retime
    )
    assert len(calls) == bench.RETIME_EXTRA_RUNS
    assert sec == 0.98 and flagged
    assert entry["first"] == 1.05 and entry["final"] == 0.98


def test_fast_timing_passes_untouched():
    sec, entry, flagged = bench.adjudicate_timing(
        "q", 0.21, floors={"q": 0.2}, prev={"q": 0.22},
        retime=lambda: (_ for _ in ()).throw(AssertionError("no retime")),
    )
    assert (sec, entry, flagged) == (0.21, None, False)


def test_new_query_without_history_never_retimes():
    sec, entry, flagged = bench.adjudicate_timing(
        "brand_new", 9.9, floors={}, prev={},
        retime=lambda: (_ for _ in ()).throw(AssertionError("no retime")),
    )
    assert (sec, entry, flagged) == (9.9, None, False)


def test_bound_is_tighter_of_prev_and_floor():
    """One noisy round must not loosen the next round's gate: with
    prev inflated (r10 ohlc_bars), 3x floor still governs."""
    retimes = iter([0.5])
    sec, entry, flagged = bench.adjudicate_timing(
        "q", 0.9, floors={"q": 0.2}, prev={"q": 1.0},
        retime=lambda: next(retimes),
    )
    # bound = min(2*1.0, 3*0.2) = 0.6 -> 0.9 triggers a retime
    assert entry is not None and entry["bound"] == 0.6
    assert sec == 0.5 and not flagged


def test_artifact_round_parses_core_count_suffix():
    """A ``_c<N>`` companion artifact belongs to round N's history, not
    to a round 0 that sorts before every other round."""
    assert bench._artifact_round("BENCH_r16_c8.json") == 16
    assert bench._artifact_round("bench_local_r18_c4.json") == 18
    assert bench._artifact_round("BENCH_r07.json") == 7


def test_history_is_keyed_by_sf_and_cpus(tmp_path):
    """Floors and prev for a run come only from artifacts recorded at
    its own scale factor and core count: an 8-core companion run must
    neither lower a 32-core floor nor become a 32-core prev."""
    q1 = sorted(bench.HEADLINE)[0]
    _write_wrapper(tmp_path / "BENCH_r01.json", '"queries": {"%s": 0.50}' % q1)
    # 8-core companion wrapper (same round, faster)
    (tmp_path / "BENCH_r01_c8.json").write_text(json.dumps(
        {"n": 1, "cpus": 8, "sf": 0.1, "tail": '"queries": {"%s": 0.20}' % q1}
    ))
    # newest round, 8 cores: the core count only in the filename
    (tmp_path / "bench_local_r02_c8.json").write_text(
        json.dumps({"sf": 0.1, "queries": {q1: 0.90}})
    )
    # another scale factor at 32 cores
    (tmp_path / "bench_local_r03.json").write_text(
        json.dumps({"sf": 0.01, "cpus": 32, "queries": {q1: 0.05}})
    )
    assert bench.load_bench_history(str(tmp_path), sf=0.1, cpus=32) == (
        {q1: 0.50}, {q1: 0.50})
    assert bench.load_bench_history(str(tmp_path), sf=0.1, cpus=8) == (
        {q1: 0.20}, {q1: 0.90})
    assert bench.load_bench_history(str(tmp_path), sf=0.1, cpus=4) == ({}, {})


def test_local_artifact_name_carries_core_count(tmp_path):
    """Two boxes benching the same round write two files, and each is
    read back as that round's history for its own core count only."""
    q1 = sorted(bench.HEADLINE)[0]
    paths = {c: bench.local_artifact_path(18, c, repo=str(tmp_path))
             for c in (4, 8)}
    assert paths[4] != paths[8]
    for c, path in paths.items():
        with open(path, "w") as fh:
            json.dump({"sf": 0.1, "cpus": c, "queries": {q1: c / 10}}, fh)
        assert bench._artifact_round(path) == 18
    for c in (4, 8):
        floors, prev = bench.load_bench_history(str(tmp_path), 0.1, c)
        assert floors == prev == {q1: c / 10}


def test_tail_marker_ignores_later_scalar_queries_field(tmp_path):
    """The steady map's marker was truncated away; a later stdout line
    that carries a scalar '"queries":' field must not cut off the
    steady pairs printed before it."""
    q1, q2 = sorted(bench.HEADLINE)[:2]
    _write_wrapper(
        tmp_path / "BENCH_r01.json",
        '"%s": 0.45, "%s": 0.25}}\n{"queries": 84}' % (q1, q2),
    )
    floors, _ = bench.load_bench_history(repo=str(tmp_path))
    assert floors == {q1: 0.45, q2: 0.25}
