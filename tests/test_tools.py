"""Tests for the repo-root measurement tooling (no Spark session).

bench_compare's artifact loaders are trusted by the round-over-round
perf review and (since r8, r7 verdict item 6) by the bench-vs-probe
cross-artifact consistency check — a loader bug would silently compare
the wrong numbers, so the three accepted artifact shapes are pinned
here.
"""

from __future__ import annotations

import importlib.util
import json
import os

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FIXTURES = os.path.join(_HERE, "tests", "fixtures")


def _load_module(relpath: str, name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(_HERE, relpath)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class TestBenchCompareLoaders:
    def test_bench_full_shape(self, tmp_path):
        bc = _load_module("tools/bench_compare.py", "bench_compare")
        p = tmp_path / "bench.json"
        p.write_text(
            json.dumps(
                {
                    "queries": {"q1": 1.5, "q2": 0.5},
                    "noise": {"p90_spread": 0.4},
                }
            )
        )
        meds, spread, per = bc._load(str(p))
        assert meds == {"q1": 1.5, "q2": 0.5}
        assert spread == 0.4
        assert per == {}

    def test_bare_map_shape(self, tmp_path):
        bc = _load_module("tools/bench_compare.py", "bench_compare")
        p = tmp_path / "bare.json"
        p.write_text(json.dumps({"q1": 2.0}))
        meds, spread, per = bc._load(str(p))
        assert meds == {"q1": 2.0}
        assert spread == 0.5

    def test_scale_probe_shape(self, tmp_path):
        bc = _load_module("tools/bench_compare.py", "bench_compare")
        p = tmp_path / "probe.json"
        p.write_text(
            json.dumps(
                {
                    "metric": "scale_probe_exponent",
                    "queries": {
                        "q1": {
                            "sf0.1": 1.2,
                            "sf0.1_spread": 0.3,
                            "sf1": 4.0,
                            "exponent": 0.5,
                        },
                        "incomplete": {"sf1": 9.9},
                    },
                }
            )
        )
        meds, spread, per = bc._load(str(p))
        # sf0.1 medians only; entries without one are skipped
        assert meds == {"q1": 1.2}
        assert per["q1"] == 0.3

    def test_driver_artifact_truncated_tail(self, tmp_path):
        """BENCH_r{N}.json driver artifacts (r8 verdict item 2): the
        2000-char tail capture front-truncates the per-query JSON line,
        cutting the first name mid-word; the loader must drop that pair,
        recover the rest, and take the spread from the parsed summary
        line. These are the only per-round bench files that persist."""
        bc = _load_module("tools/bench_compare.py", "bench_compare")
        tail = (
            'ive_orders":0.2196,"json_events_extract":0.7274,'
            '"map_functions_events":0.6923},"sf":0.1,"recall":'
            '{"similarity_ann_ivf":0.82},"noise":{"stat":"median_of_3",'
            '"p90_spread":1.0289}}\n'
            '{"metric":"headline_query_total","value":67.96,"unit":"sec",'
            '"sf":0.1,"n_queries":61,'
            '"noise":{"stat":"median_of_3","p90_spread":1.0289}}\n'
        )
        p = tmp_path / "BENCH_r08.json"
        p.write_text(
            json.dumps({"n": 9, "rc": 0, "cpus": 32, "sf": 0.1,
                        "tail": tail, "parsed": {"value": 67.96}})
        )
        meds, spread, per = bc._load(str(p))
        # the truncated leading pair is dropped, the clean pairs survive
        assert meds == {
            "json_events_extract": 0.7274,
            "map_functions_events": 0.6923,
        }
        assert spread == 1.0289
        assert per == {}

    def test_driver_artifact_untruncated_tail(self, tmp_path):
        """A short bench run whose whole stdout fits in the tail: the
        per-query line json-parses and nothing is dropped."""
        bc = _load_module("tools/bench_compare.py", "bench_compare")
        tail = (
            '{"metric":"per_query","queries":{"q1":1.5,"q2":0.5},'
            '"sf":0.1,"noise":{"p90_spread":0.4}}\n'
            '{"metric":"headline_query_total","value":2.0,'
            '"noise":{"p90_spread":0.4}}\n'
        )
        p = tmp_path / "BENCH_small.json"
        p.write_text(json.dumps({"rc": 0, "tail": tail, "parsed": {}}))
        meds, spread, _ = bc._load(str(p))
        assert meds == {"q1": 1.5, "q2": 0.5}
        assert spread == 0.4

    def test_real_driver_artifacts_load_and_compare(self):
        """The natural round-over-round invocation on two real driver
        artifacts (copies of BENCH_r07/r08.json, front-truncated tails
        included) must load (this exact call crashed in r8)."""
        bc = _load_module("tools/bench_compare.py", "bench_compare")
        old_meds, old_spread, _ = bc._load(os.path.join(_FIXTURES, "bench_driver_r07.json"))
        new_meds, new_spread, _ = bc._load(os.path.join(_FIXTURES, "bench_driver_r08.json"))
        shared = set(old_meds) & set(new_meds)
        assert len(shared) >= 40
        assert all(v > 0 for v in new_meds.values())
        assert new_spread > 0 and old_spread > 0

    def test_real_artifacts_cross_load(self):
        """A scale-probe artifact and a bench_full.json artifact load
        side by side and share queries — the cross-artifact consistency
        check runs on exactly this pair of shapes (fixtures trimmed from
        SCALE_PROBE.json and the r12 bench's per-query medians)."""
        bc = _load_module("tools/bench_compare.py", "bench_compare")
        probe_meds, _, probe_spreads = bc._load(os.path.join(_FIXTURES, "scale_probe.json"))
        bench_meds, bench_spread, _ = bc._load(os.path.join(_FIXTURES, "bench_full.json"))
        shared = set(probe_meds) & set(bench_meds)
        assert shared == {"incremental_bm25_index", "corpus_clean_pipeline",
                          "dedup_minhash_lsh", "kmeans_cluster_profile"}
        assert "incomplete" not in probe_meds  # no sf0.1 median: skipped
        assert all(v > 0 for v in probe_meds.values())
        assert set(probe_spreads) >= shared
        assert bench_spread == 1.0002


class TestWindowPolicy:
    """tools/window_policy.py — the executable rotation policy. A window
    that violates the pinned policy must fail CI the moment the
    violating artifact/window combination is committed."""

    def _mod(self):
        return _load_module("tools/window_policy.py", "window_policy")

    def test_committed_window_satisfies_policy(self):
        """Audited against the artifacts it was rotated from: the
        rounds up to ``_DRIVER_WINDOW_ROUND``."""
        wp = self._mod()
        from icerunner_spark import queries as q

        latest = wp.latest_rows(max_round=q._DRIVER_WINDOW_ROUND)
        problems = wp.audit(list(q._DRIVER_WINDOW), list(q._QUERIES), latest)
        assert not problems, problems

    def test_later_artifact_does_not_fail_the_committed_window(
        self, tmp_path, monkeypatch
    ):
        """A round's artifact landing after the rotation leaves the
        committed window green, while the same window audited against
        every artifact (its rounds no longer the stalest) and a window
        that breaks the policy against its own artifacts both fail."""
        import shutil

        wp = self._mod()
        from icerunner_spark import queries as q

        rnd = q._DRIVER_WINDOW_ROUND
        window, registry = list(q._DRIVER_WINDOW), list(q._QUERIES)
        for p in os.listdir(wp.HERE):
            if p.startswith("CORRECTNESS_r"):
                shutil.copy(os.path.join(wp.HERE, p), tmp_path / p)
        # the next round checks the window's names: they are now the
        # freshest, and a from-scratch audit sees a stale cohort skipped
        with open(tmp_path / f"CORRECTNESS_r{rnd + 1:02d}.json", "w") as f:
            json.dump({n: {"status": "pass"} for n in window}, f)
        monkeypatch.setattr(wp, "HERE", str(tmp_path))
        assert not wp.audit(window, registry, wp.latest_rows(max_round=rnd))
        assert wp.audit(window, registry, wp.latest_rows())
        own = wp.latest_rows(max_round=rnd)
        head = [n for n in window if n not in wp.KEEPERS]
        fresh = max(
            (n for n in registry if n not in window and own.get(n, 0)),
            key=lambda n: (own[n], n),
        )
        broken = [n for n in window if n != head[0]][: len(head) - 1]
        broken = broken + [fresh] + wp.KEEPERS
        assert any(
            "stalest checked cohort" in p for p in wp.audit(broken, registry, own)
        )

    def test_propose_is_policy_shaped(self):
        """The proposal is always window-sized, keeper-complete, leads
        with never-checked names, and is staleness-ordered."""
        wp = self._mod()
        from icerunner_spark import queries as q

        latest = wp.latest_rows()
        nxt = wp.propose(list(q._QUERIES), latest, assume_green=list(q._DRIVER_WINDOW))
        assert len(nxt) == wp.WINDOW_SIZE
        assert all(k in nxt for k in wp.KEEPERS)
        # audit must accept its own proposal once those names have rows
        head = [n for n in nxt if n not in wp.KEEPERS]
        sim = dict(latest)
        top = max(sim.values()) + 1
        for n in q._DRIVER_WINDOW:
            sim[n] = top
        rounds = [sim.get(n, 0) for n in head]
        assert rounds == sorted(rounds)

    def test_audit_catches_violations(self):
        wp = self._mod()
        from icerunner_spark import queries as q

        latest = wp.latest_rows()
        registry = list(q._QUERIES)
        good = list(q._DRIVER_WINDOW)
        # keeper removed
        assert wp.audit([n for n in good if n != "q1_pricing_summary"]
                        + ["q3_shipping_priority"], registry, latest)
        # never-checked name buried behind checked ones
        buried = [n for n in good if n not in ("iceberg_incremental_mirror",)]
        buried.insert(20, "iceberg_incremental_mirror")
        assert wp.audit(buried, registry, latest)
        # unknown name
        assert wp.audit(good[:-1] + ["no_such_query"], registry, latest)

    def test_audit_catches_fresh_rotation(self):
        """A structurally-valid window whose checked names are NOT the
        stalest cohort (fresh names rotated in while staler wait) must
        fail — the core promise, not just shape checks."""
        wp = self._mod()
        from icerunner_spark import queries as q

        latest = wp.latest_rows()
        registry = list(q._QUERIES)
        checked = sorted(
            (n for n in registry if n not in wp.KEEPERS and latest.get(n, 0)),
            key=lambda n: (latest[n], n),
        )
        freshest = checked[-(wp.WINDOW_SIZE - len(wp.KEEPERS)):]
        # order the fresh picks by staleness so only the cohort check fires
        fresh_window = sorted(
            freshest, key=lambda n: (latest[n], n)
        ) + wp.KEEPERS
        problems = wp.audit(fresh_window, registry, latest)
        assert any("stalest checked cohort" in p for p in problems), problems


class TestScaleFixtureGenerator:
    """The probe generator's structural contract (r10): per-copy
    transforms are bijections preserving within-copy structure, and
    cross-copy n-gram identity is destroyed at BOTH the word and the
    CHARACTER level (the r10 probe postmortem: word-only rotation left
    char-shingle overlap at J 0.1-0.3, and 87% of sf1 LSH candidates
    were a cross-copy quadratic artifact billed to the minhash plan)."""

    def _mod(self):
        return _load_module("tools/make_scale_fixtures.py", "msf")

    def test_char_rotation_is_class_preserving_bijection(self):
        msf = self._mod()
        for copy in (1, 3, 9, 10, 19, 20):
            tab = msf._char_rotation_table(copy)
            # bijective on its domain
            assert len(set(tab.values())) == len(tab)
            for src, dst in tab.items():
                s, d = chr(src), chr(dst)
                for lo, hi in (("a", "z"), ("A", "Z"), ("0", "9")):
                    assert (lo <= s <= hi) == (lo <= d <= hi)
                assert (0x4E00 <= src <= 0x9FFF) == (0x4E00 <= dst <= 0x9FFF)

    def test_char_rotation_never_identity_on_any_class(self):
        """r10 ADVICE: the old step `copy % 10` made the DIGIT map the
        identity at copy 10 (present in sf2's --copies 20), silently
        re-opening cross-copy identity for pure-numeric shingles. The
        fixed step 1 + (stride*copy) % (n-1) lands in [1, n-1] for every
        copy >= 1, so every class rotation is fixed-point-free."""
        msf = self._mod()
        for copy in range(1, 40):
            tab = msf._char_rotation_table(copy)
            for base, n in ((97, 26), (65, 26), (48, 10), (0x4E00, 100)):
                assert all(tab[base + i] != base + i for i in range(n)), (
                    copy,
                    chr(base),
                )

    def test_cross_copy_shingles_disjoint(self):
        """Remap a synthetic corpus into two copies and assert the
        char-5-gram sets are disjoint once punctuation/whitespace-only
        grams (deliberate fixed points) are excluded — the property the
        minhash scale exponent rests on."""
        import re

        import pyarrow as pa

        msf = self._mod()
        texts = [
            "the quick brown fox jumps over the lazy dog 42 times",
            "pack my box with five dozen liquor jugs, 100% proof!",
            "the quick brown fox jumps over the lazy dog 42 times",
        ]
        t = pa.table(
            {
                "doc_id": pa.array([0, 1, 2], pa.int64()),
                "text": pa.array(texts),
                "n_chars": pa.array([len(s) for s in texts], pa.int64()),
            }
        )
        alnum = re.compile(r"[a-zA-Z0-9一-鿿]")

        def shingles(tab):
            out = set()
            for s in tab.column("text").to_pylist():
                norm = re.sub(r"\s+", " ", s.lower())
                for i in range(max(len(norm) - 4, 1)):
                    g = norm[i : i + 5]
                    if alnum.search(g):  # punctuation-only are fixed points
                        out.add(g)
            return out

        c1 = shingles(msf._remap_documents(t, 1))
        c2 = shingles(msf._remap_documents(t, 2))
        c0 = shingles(t)
        # accidental Caesar alignments exist (e.g. "box"+7 = "ive", so a
        # rotated copy can coincidentally share a shingle with copy 0's
        # "five") — the contract is NO SIGNIFICANT overlap (J at the
        # 0.1-0.3 level caused the r10 artifact), not exact disjointness
        for a, b in ((c1, c2), (c0, c1), (c0, c2)):
            j = len(a & b) / len(a | b)
            assert j < 0.05, (j, sorted(a & b)[:5])
        # bijection: within-copy duplicate structure preserved exactly
        r1 = msf._remap_documents(t, 1).column("text").to_pylist()
        assert r1[0] == r1[2] and r1[0] != r1[1]
