"""Self-tests of the benchmark (not of the program):

    python3 -m pytest kgbench -q

The last test starts a local Spark session and takes about half a
minute; the others are pure Python.
"""

from __future__ import annotations

import glob
import json
import os
import re

import gen
import metrics
import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.mark.parametrize("kind", ["unique", "templated"])
def test_generator_is_deterministic_per_seed(kind):
    a = gen.generate(kind, 7, n_pages=40, hosts=4)
    assert a == gen.generate(kind, 7, n_pages=40, hosts=4)
    assert a != gen.generate(kind, 8, n_pages=40, hosts=4)
    assert gen.corpus_key(kind, 7, {"n_pages": 40}) == \
        gen.corpus_key(kind, 7, {"n_pages": 40})
    assert gen.corpus_key(kind, 7, {"n_pages": 40}) != \
        gen.corpus_key(kind, 8, {"n_pages": 40})


def test_unique_corpus_blocks_are_distinct():
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks_from_html,
    )
    _, htmls = gen.generate("unique", 3, n_pages=300)
    blocks = [b for h in htmls for b in extract_blocks_from_html(h)]
    assert len(set(blocks)) == len(blocks)


def test_templated_corpus_repeats_template_blocks():
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks_from_html,
    )
    _, htmls = gen.generate("templated", 3, n_pages=2000, hosts=8, pool=6)
    templates = [b for h in htmls for b in extract_blocks_from_html(h)[1:]]
    assert len(templates) / len(set(templates)) >= 100


def test_metric_names_and_units_match_the_manifest():
    with open(os.path.join(os.path.dirname(BENCH_DIR),
                           "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    declared = {m["name"]: m["unit"] for m in manifest["end_to_end"]}
    assert declared == metrics.END_TO_END
    declared = {m["name"]: m["unit"] for m in manifest["per_layer"]}
    assert declared == metrics.PER_LAYER
    for table in (metrics.END_TO_END, metrics.PER_LAYER):
        for name, unit in table.items():
            assert NAME_RE.match(name), name
            assert UNIT_RE.match(unit), unit
    names = [w["name"] for w in manifest["workloads"]]
    import run
    assert sorted(names) == sorted(run.WORKLOADS)


def test_correctness_check_flags_a_perturbed_store(tmp_path, monkeypatch):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import run as bench

    monkeypatch.setattr(bench, "WORK", str(tmp_path))
    monkeypatch.setattr(bench, "CACHE", str(tmp_path / "cache"))
    monkeypatch.setitem(bench.WORKLOADS, "tiny", {
        "corpus": "unique", "params": {"n_pages": 120, "hosts": 4},
        "memo": False, "canonicalize": False})
    bench._import_program()
    bench._spark_env()
    r = bench.Run("tiny", 5, 2.0, False)
    r.prepare_inputs()
    r.spark = bench.start_spark()
    try:
        out = r.new_out()
        stats, _ = r.build(out)
        assert r.check_build(out, stats) == []
        assert r.verify_store(out) == []

        # slip one extra quad into a committed bucket behind the lineage
        # table's back
        path = sorted(glob.glob(f"{out}/quads/bucket=*/*.parquet"))[0]
        table = pq.read_table(path)
        row = table.filter(pc.is_valid(table.column("obj"))).slice(0, 1)
        idx = row.schema.get_field_index("obj")
        row = row.set_column(idx, "obj", [['"tampered"']])
        pq.write_table(row, os.path.join(os.path.dirname(path),
                                         "part-tampered.parquet"))
        assert r.verify_store(out)

        # a store whose lineage disagrees with the kernel reference
        exp = r.expected()
        wrong = dict(exp["fingerprint"], checksum=exp["fingerprint"]
                     ["checksum"] ^ 1)
        r._expected = dict(exp, fingerprint=wrong)
        assert r.check_build(out, stats)
    finally:
        bench.stop_spark(r.spark)
