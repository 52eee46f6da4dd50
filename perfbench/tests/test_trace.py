"""Tracing against a live local Spark session (each test starts its own JVM)."""

import os

from perfbench import datagen
from perfbench import trace as T
from perfbench.run import Bench, traced_metrics


def _bench(tmp_path, ops):
    work = str(tmp_path / "work")
    inputs = datagen.make_inputs(42, os.path.join(work, "inputs"))
    os.makedirs(os.path.join(work, "tmp"))
    bench = Bench("test", ops, inputs, work, trace=True)
    bench.setup(times=1)
    return bench


def test_fold_attributes_a_labelled_job_with_python_and_shuffle_metrics(tmp_path):
    def tag_rows(batches):  # nested, so it pickles by value for the workers
        for b in batches:
            yield b.assign(k=b.id % 7)

    bench = _bench(tmp_path, ())
    try:
        spark = bench.spark
        tracer = T.Tracer(spark)
        tracer.op_run = "f0:tiny"
        tracer.set_label("pipeline.text")
        spark.range(0, 20000, 1, 4).mapInPandas(tag_rows, "id long, k long") \
            .groupBy("k").count().collect()
        tracer.set_label(None)
        spark.range(10).collect()  # no group: must not be charged to the label
        app_id = spark.sparkContext.applicationId
        spark.stop()
        bench.spark = None
        groups = T.fold_event_log(T.read_event_log(bench.event_dir, app_id))
    finally:
        bench.close()
    assert list(groups) == ["pb|f0:tiny|pipeline.text"]
    acc = groups["pb|f0:tiny|pipeline.text"]
    assert acc["spark.exec.jobs"] >= 1 and acc["spark.exec.tasks"] >= 4
    assert acc["spark.shuffle.write_mb"] > 0 and acc["spark.shuffle.records"] > 0
    assert acc["spark.python.run_s"] > 0
    assert acc["spark.python.to_mb"] > 0 and acc["spark.python.from_mb"] > 0
    window = (min(a for a, _ in acc["intervals"]), max(b for _, b in acc["intervals"]))
    m = T.pass_metrics(groups, "f0", window, 4)
    assert m["pipeline.text.jobs"] == acc["spark.exec.jobs"]
    assert 0 <= m["spark.exec.driver_gap_s"] < window[1] - window[0]


def test_counts_repeat_between_traced_passes(tmp_path):
    bench = _bench(tmp_path, ("q01_detect_tags", "q16_enumerate", "x45_dsir_weights"))
    try:
        bench.run_pass()  # cold
        bench.tracer = T.Tracer(bench.spark)
        bench.tracer.install()
        try:
            passes = [bench.run_pass("t0"), bench.run_pass("t1")]
        finally:
            bench.tracer.uninstall()
        assert not bench.failures
        per_pass = traced_metrics(bench, passes)
    finally:
        bench.close()
    first, second = per_pass
    assert {k: first[k] for k in T.COUNT_METRICS} == {k: second[k] for k in T.COUNT_METRICS}
    assert first["types.calls"] > 0 and first["operators.calls"] > 0
    assert first["pipeline.curation.calls"] > 0 and first["spark.exec.jobs"] > 0
    # the DSIR histogram frame x45 persists and never releases
    assert passes[0]["ops"]["x45_dsir_weights"][2] >= 1
