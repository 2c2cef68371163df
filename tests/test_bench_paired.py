"""Pure-arithmetic tests for the paired-bench protocol (r11): the
ratio rules that round-over-round perf claims now rest on must be
pinned — pairwise-dropped missing rounds, within-round pairing,
median-of-medians."""

from __future__ import annotations

from bench import paired_ratios, rotation_plan


def test_within_round_pairing_and_median():
    cur = {"q1": [2.0, 4.0, 2.0], "q2": [1.0, 1.0, 1.0]}
    ref = {"q1": [4.0, 4.0, 1.0], "q2": [2.0, 1.0, 0.5]}
    ratios, med = paired_ratios(cur, ref)
    # q1 per-round: 0.5, 1.0, 2.0 -> median 1.0; q2: 0.5, 1.0, 2.0 -> 1.0
    assert ratios == {"q1": 1.0, "q2": 1.0}
    assert med == 1.0


def test_missing_rounds_dropped_pairwise():
    # query errored in ref round 2 and cur round 3: only round 1 pairs
    cur = {"q": [3.0, 5.0, None]}
    ref = {"q": [2.0, None, 4.0]}
    ratios, med = paired_ratios(cur, ref)
    assert ratios == {"q": 1.5}
    assert med == 1.5


def test_query_absent_in_ref_revision_excluded():
    # a query not registered in the ref rev must not fabricate a ratio
    cur = {"new_q": [1.0, 1.0], "old_q": [2.0, 2.0]}
    ref = {"new_q": [None, None], "old_q": [2.0, 4.0]}
    ratios, med = paired_ratios(cur, ref)
    assert "new_q" not in ratios
    assert ratios["old_q"] == 0.75
    assert med == 0.75


def test_zero_ref_timing_never_divides():
    cur = {"q": [1.0]}
    ref = {"q": [0.0]}
    ratios, med = paired_ratios(cur, ref)
    assert ratios == {} and med is None


def test_rotation_covers_registry_exactly_once():
    """Three consecutive slices must partition the non-always tail:
    every query appears in exactly one slice, always-queries in all."""
    suite = [f"q{i}" for i in range(10)]
    always = {"q0", "q7"}
    slices = [rotation_plan(suite, always, 3, s) for s in range(3)]
    for s in slices:
        assert set(always) <= set(s)
        # order preserved from suite_all
        assert s == [n for n in suite if n in set(s)]
    tail_seen = [n for s in slices for n in s if n not in always]
    assert sorted(tail_seen) == sorted(set(suite) - always)


def test_rotation_always_names_absent_from_suite_ignored():
    # a force-include not in the registry must not appear in the slice
    suite = ["a", "b", "c"]
    out = rotation_plan(suite, {"zz", "a"}, 2, 0)
    assert "zz" not in out and "a" in out


def test_rotation_rotate_one_is_identity():
    suite = ["a", "b", "c"]
    assert rotation_plan(suite, {"a"}, 1, 0) == suite


def test_paired_worktree_pins_sha_and_recreates_on_drift(tmp_path):
    """ADVICE r11 (medium): the ref worktree must be keyed on the
    RESOLVED SHA, and a reused dir whose HEAD drifted (movable ref,
    manual checkout) must be recreated — never silently benched."""
    import subprocess

    from bench import _paired_worktree

    here = tmp_path / "repo"
    here.mkdir()

    def git(*args, cwd=here):
        return subprocess.run(
            ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
        ).stdout.strip()

    git("init", "-q", "-b", "main")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    (here / "f.txt").write_text("one\n")
    git("add", "f.txt")
    git("commit", "-qm", "c1")
    sha1 = git("rev-parse", "HEAD")
    (here / "f.txt").write_text("two\n")
    git("commit", "-aqm", "c2")
    sha2 = git("rev-parse", "HEAD")

    d, sha = _paired_worktree(here, "main")
    assert sha == sha2 and sha[:16] in d.name
    assert git("rev-parse", "HEAD", cwd=d) == sha2
    # drift the worktree's HEAD, then ask for the same rev again:
    # the stale checkout must be detected and recreated at the SHA
    git("checkout", "-q", sha1, cwd=d)
    d2, sha_again = _paired_worktree(here, "main")
    assert d2 == d and sha_again == sha2
    assert git("rev-parse", "HEAD", cwd=d2) == sha2
    subprocess.run(
        ["git", "worktree", "remove", "--force", str(d2)],
        cwd=here,
        capture_output=True,
    )


def test_aa_counterbalancing_cancels_order_bias():
    """The A/A null arm runs in counterbalanced pairs (round 0
    a-then-b, round 1 b-then-a — bench._paired_main's `rnd % 2`
    order flip). With a pure arm-order effect (second arm runs
    fraction beta faster on a warm cache), the per-query median over
    one ABBA pair must land at 1.0 (the bias cancels), while a single
    un-counterbalanced round reads 1/(1-beta) — the ~7% shift r12
    measured. Verified through the same paired_ratios arithmetic the
    record uses."""
    base, beta = 2.0, 0.07
    first, second = base, base * (1 - beta)
    # round 0: a first, b second; round 1: b first, a second
    a = {"q": [first, second]}
    b = {"q": [second, first]}
    ratios, med = paired_ratios(a, b)
    assert abs(ratios["q"] - 1.0) < 0.005  # pair median centers at 1.0
    # one un-counterbalanced round carries the full bias
    solo, _ = paired_ratios({"q": [first]}, {"q": [second]})
    assert solo["q"] > 1.05


def test_rotation_slice_advances_each_run(tmp_path):
    """VERDICT r12 item 6: the sf0.1 bench rotation must ADVANCE the
    slice every run so cumulative coverage closes over the registry —
    pinned on the factored successor function: fresh state starts at
    0, each recorded slice yields its successor, the last slice wraps
    to 0, and corrupt/invalid state restarts at 0 rather than
    sticking."""
    import json as _json

    from bench import next_rotation_slice

    state = tmp_path / "BENCH_ROTATION.json"
    assert next_rotation_slice(state, 3) == 0  # no state yet
    state.write_text(_json.dumps({"slice": 0, "rotate": 3}))
    assert next_rotation_slice(state, 3) == 1  # the r13 requirement
    state.write_text(_json.dumps({"slice": 1, "rotate": 3}))
    assert next_rotation_slice(state, 3) == 2
    state.write_text(_json.dumps({"slice": 2, "rotate": 3}))
    assert next_rotation_slice(state, 3) == 0  # wraps, never sticks
    state.write_text("not json")
    assert next_rotation_slice(state, 3) == 0


def test_compact_query_map_priority_then_heaviest_prefix():
    """r14 (VERDICT r13 item 2): the stdout line's per-query map is a
    deterministic bounded prefix — priority names (timed every run)
    first, then heaviest-first, stopping at the first entry that would
    overflow the room so the emitted set is stable round-over-round."""
    import json as _json

    from bench import compact_query_map

    timings = {"aa": 1.0, "heavy": 9.0, "light": 0.1, "head1": 2.0}
    # generous room: everything fits, order = priority then by weight
    out = compact_query_map(timings, ["head1", "missing"], 10_000)
    assert list(out) == ["head1", "heavy", "aa", "light"]
    # tight room: prefix stops at first non-fitting entry (never skips
    # ahead to a shorter name)
    room = len(_json.dumps({"head1": 2.0, "heavy": 9.0}))
    out = compact_query_map(timings, ["head1"], room)
    assert list(out) == ["head1", "heavy"]
    # degenerate room: empty map, never a broken line
    assert compact_query_map(timings, ["head1"], 3) == {}


def test_resolve_rotation_low_cpu_run_reuses_slice(tmp_path):
    """A run on a box with fewer cores than the one that wrote the
    rotation state still advances the slice: the state's ``cpus`` is a
    record, not a rule, or a smaller box would re-time one slice
    forever. BENCH_ROTATE_PIN is the one way to re-time a slice, and a
    pinned run never advances."""
    import json as _json

    from bench import resolve_rotation

    state = tmp_path / "BENCH_ROTATION.json"
    # no state yet: successor of nothing = 0, advances
    assert resolve_rotation(state, 3, None) == (0, True)
    # state written by a 32-core run: a run on any box advances
    state.write_text(_json.dumps({"slice": 0, "rotate": 3, "cpus": 32}))
    assert resolve_rotation(state, 3, None) == (1, True)
    # pin wins over everything and never advances
    assert resolve_rotation(state, 3, "2") == (2, False)
    assert resolve_rotation(state, 3, "5") == (2, False)  # mod rotate
    # state without cpus: plain successor
    state.write_text(_json.dumps({"slice": 1, "rotate": 3}))
    assert resolve_rotation(state, 3, None) == (2, True)


def test_aa_band_spans_single_rounds_not_medians():
    """Each query's two A/A rounds swing 20-25 % either way with the arm
    order, so its median ratio stays near 1.0 and a band of medians
    would call a 1.2 A/B ratio a delta. The A/B rounds carry the same
    swing, so the band is the range of the single-round ratios."""
    from bench import aa_band

    a = {"q1": [1.2, 1.0], "q2": [2.0, 1.6], "q3": [None, 3.0]}
    b = {"q1": [1.0, 1.2], "q2": [1.6, 2.0], "q3": [3.0, 3.0]}
    medians, _ = paired_ratios(a, b)
    assert max(medians.values()) < 1.03
    # single rounds: q1 1.2, 0.833; q2 1.25, 0.8; q3 (round 0 dropped) 1.0
    assert aa_band(a, b) == [0.8, 1.25]
    assert aa_band({"q": [None]}, {"q": [1.0]}) is None
    # the arms' labels are arbitrary: a one-sided spread counts both ways
    assert aa_band({"q": [1.0, 1.0]}, {"q": [1.1, 1.25]}) == [0.8, 1.25]
