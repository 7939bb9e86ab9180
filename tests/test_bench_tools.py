"""Offline logic of the root-level benchmark scripts (no Spark)."""
from __future__ import annotations

import json
import os

import pytest


def test_bench_merge_trims_to_equal_effort(tmp_path, monkeypatch, capsys):
    import bench_merge

    def run(cores, qps, build):
        return {"cores": cores, "batch_qps": qps,
                "build_docs_per_sec": build, "build_wall_s": 100.0 / build,
                "batch_wall_s": 1.0, "result_digest": "d1"}

    base = {
        "all_runs": {"2": [run(2, 100.0, 50.0)],
                     "8": [run(8, 300.0, 150.0)]},
        "delivered_cpu_ratio": 3.0, "rows": 110,
    }
    # over-sample the high level with a lucky fast run — without trimming
    # it would inflate the published efficiency
    extra = run(8, 9999.0, 9999.0)
    os.makedirs(tmp_path / "BENCH")
    bp, ep = str(tmp_path / "base.json"), str(tmp_path / "extra.json")
    json.dump(base, open(bp, "w"))
    json.dump(extra, open(ep, "w"))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr("sys.argv", ["bench_merge.py", bp, ep])
    bench_merge.main()
    out = json.load(open(tmp_path / "BENCH" / "scaling.json"))
    assert out["n_samples_per_level"] == {"2": 1, "8": 1}
    assert out["samples_trimmed_per_level"]["8"] == 1
    # the lucky extra sample must NOT have entered the best-of
    assert out["query_scaling_efficiency"] == round(300.0 / 100.0 / 4, 3)
    assert out["build_scaling_efficiency"] == round(150.0 / 50.0 / 4, 3)


def _fake_sysfs(root, siblings):
    """``siblings``: cpu number -> its thread_siblings_list text."""
    for cpu, text in siblings.items():
        d = root / f"cpu{cpu}" / "topology"
        d.mkdir(parents=True)
        (d / "thread_siblings_list").write_text(text + "\n")
    (root / "cpufreq").mkdir()  # non-cpu entries are ignored
    return str(root)


def test_pin_takes_one_cpu_per_physical_core_with_smt(tmp_path):
    """Linux numbers SMT siblings apart (cpu k and k+4 share a core):
    pinning 0..N-1 would pair siblings of one core at N > 4."""
    from bench_scaling import physical_core_cpus
    sysfs = _fake_sysfs(tmp_path, {c: f"{c % 4},{c % 4 + 4}"
                                   for c in range(8)})
    assert physical_core_cpus(2, sysfs) == [0, 1]
    assert physical_core_cpus(4, sysfs) == [0, 1, 2, 3]
    # adjacent-sibling numbering ("0-1", "2-3", ...)
    sysfs = _fake_sysfs(tmp_path / "adj", {c: f"{c - c % 2}-{c - c % 2 + 1}"
                                           for c in range(8)})
    assert physical_core_cpus(4, sysfs) == [0, 2, 4, 6]


def test_pin_without_smt_takes_every_cpu(tmp_path):
    from bench_scaling import physical_core_cpus
    sysfs = _fake_sysfs(tmp_path, {c: str(c) for c in range(4)})
    assert physical_core_cpus(4, sysfs) == [0, 1, 2, 3]


def test_pin_refuses_to_pin_siblings_when_cores_run_out(tmp_path):
    from bench_scaling import physical_core_cpus
    sysfs = _fake_sysfs(tmp_path, {c: f"{c % 2},{c % 2 + 2}"
                                   for c in range(4)})
    with pytest.raises(RuntimeError, match="physical cores"):
        physical_core_cpus(3, sysfs)
