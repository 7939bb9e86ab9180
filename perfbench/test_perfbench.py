"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

- the input generator is deterministic by seed and imports no engine code;
- the status-store diff attributes every stage of a ``build_index`` call
  to exactly one of its ``build_runs`` / ``merge_index`` phases.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _digest(seed: int) -> str:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
         "--docs", "300", "--queries", "64"],
        capture_output=True, text=True, check=True).stdout.strip()


def test_same_seed_same_digest():
    a, b, c = _digest(11), _digest(11), _digest(12)
    assert a == b
    assert a != c


def test_generator_imports_no_engine_code():
    code = ("import sys; sys.path.insert(0, sys.argv[1]); import gen; "
            "gen.corpus(3, 50); gen.queries(3, 20, 'q'); "
            "print(any(m.startswith('colbert_live_spark') "
            "for m in sys.modules))")
    out = subprocess.run([sys.executable, "-c", code, HERE],
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False"


def test_query_mix_and_vocabulary():
    t = gen.corpus(5, 400)
    vocab = set(gen.word(r) for r in range(gen.VOCAB_SIZE))
    words = {w.strip(".").lower() for text in t.column("text").to_pylist()
             for w in text.split()}
    assert words <= vocab
    qs = gen.queries(5, 2000, "q")
    absent = [q for q in qs if any(w not in vocab for w in q[1].split())]
    assert 0.05 < len(absent) / len(qs) < 0.2
    repeat = [q for q in qs if len(set(q[1].split())) < len(q[1].split())]
    assert 0.03 < len(repeat) / len(qs) < 0.1
    assert 0.15 < sum(q[2] for q in qs) / len(qs) < 0.35
    lens = [len(x.split()) for x in t.column("text").to_pylist()]
    assert gen.MIN_WORDS <= min(lens) and max(lens) <= gen.MAX_WORDS


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("spark"))
    sys.path.insert(0, ROOT)
    from colbert_live_spark.session import get_spark
    s = get_spark("perfbench-test", cores=2)
    yield s
    s.stop()


def test_build_phases_cover_all_stages(spark, tmp_path):
    from colbert_live_spark.index import builder
    from spans import StatusStore, Tracer

    gen.write_corpus(gen.corpus(9, 300), str(tmp_path / "corpus"), 2)
    docs = spark.read.parquet(str(tmp_path / "corpus"))
    store = StatusStore(spark)
    tracer = Tracer("test", store)
    phase_ids: dict[str, set[int]] = {}

    def keep_ids(name):
        fn = getattr(builder, name)

        def wrapped(*a, **kw):
            m = store.mark()
            try:
                return fn(*a, **kw)
            finally:
                phase_ids[name] = store.stage_ids_since(m)
        return wrapped

    undo = []
    for name in ("build_runs", "merge_index"):
        orig = getattr(builder, name)
        setattr(builder, name, keep_ids(name))
        undo.append(tracer.wrap(builder, name, f"builder.{name}"))
        undo.append(lambda n=name, f=orig: setattr(builder, n, f))
    try:
        m0 = store.mark()
        with tracer.span("builder.build_index"):
            builder.build_index(spark, docs, str(tmp_path / "index"),
                                n_groups=2, n_shards=4)
        all_ids = store.stage_ids_since(m0)
    finally:
        for u in undo:
            u()

    runs, merge = phase_ids["build_runs"], phase_ids["merge_index"]
    assert runs and merge and not runs & merge
    assert runs | merge == all_ids
    layers = tracer.by_layer()
    assert (layers["builder.build_runs"]["stages"]
            + layers["builder.merge_index"]["stages"]
            == layers["builder.build_index"]["stages"] == len(all_ids))
    # self time of the parent excludes both phases
    assert layers["builder.build_index"]["self_s"] < 0.5 * \
        layers["builder.build_index"]["dur_s"]
