"""One bounded-stream driver, one file-replay reader, one query timer, one
batch per-key runner, one live keyed-state runner: a fast source scan that
keeps a second driver, reader, timing loop, per-key replay or per-key
state operator from creeping back into the engine, its scripts or the
bench, and keeps the scripts (and their Python workers) importing the
checkout they live in."""

from __future__ import annotations

import os
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
ENGINE = REPO / "flink_1_6_0_spark"
SCRIPTS = sorted((REPO / "scripts").glob("*.py"))

# sources/stream.py owns the driver and the parquet replay reader;
# streaming/iterate.py reads its feedback directory back as a stream and
# descriptors.py is the connect() API's reader for declared streaming tables
READ_STREAM_OWNERS = {
    "flink_1_6_0_spark/sources/stream.py",
    "flink_1_6_0_spark/streaming/iterate.py",
    "flink_1_6_0_spark/descriptors.py",
}


def _uses(token: str, files) -> set[str]:
    return {
        p.relative_to(REPO).as_posix()
        for p in files
        if token in p.read_text(encoding="utf-8")
    }


def test_only_the_driver_drains_a_stream():
    files = [*ENGINE.rglob("*.py"), *SCRIPTS, REPO / "bench.py"]
    assert _uses("processAllAvailable(", files) == {"flink_1_6_0_spark/sources/stream.py"}


def test_only_the_sources_build_a_read_stream():
    assert _uses("readStream", ENGINE.rglob("*.py")) <= READ_STREAM_OWNERS


def test_only_bench_times_a_query():
    """bench.py owns the noop sink and every timing loop; the engine keeps
    no timer of its own."""
    files = [*ENGINE.rglob("*.py"), *SCRIPTS, REPO / "bench.py"]
    assert _uses('format("noop")', files) == {"bench.py"}
    assert _uses("perf_counter", ENGINE.rglob("*.py")) == set()


def test_scripts_import_their_own_checkout():
    """A script run from a second checkout imports and gates that checkout's
    engine: no script names an absolute checkout path."""
    assert _uses(f'"{REPO}"', SCRIPTS) == set()
    assert _uses('sys.path.insert(0, "', SCRIPTS) == set()


def test_get_spark_puts_the_checkout_on_pythonpath(spark):
    """Python workers import the engine through PYTHONPATH, so a script run
    from another working directory still finds this checkout."""
    assert str(REPO) in os.environ["PYTHONPATH"].split(os.pathsep)


def test_only_the_runner_replays_a_batch_key():
    """streaming/keyed.py::per_key is the one batch per-key replay (this
    token does not match ``applyInPandasWithState``)."""
    files = (ENGINE / "streaming").rglob("*.py")
    assert _uses("applyInPandas(", files) == {"flink_1_6_0_spark/streaming/keyed.py"}


def test_only_the_runner_keeps_live_key_state():
    """streaming/keyed.py::per_key_state is the one live per-key state
    operator: every stream kernel is a pure step it runs per key inside one
    group per hash bucket, never one Spark group per key, and only the
    runner builds, reads or arms a ``GroupState`` under streaming/. The
    one other caller is ``DataStream.process``, whose user function keeps
    the Flink KeyedProcessFunction contract of its own ``GroupState``."""
    assert _uses("applyInPandasWithState(", ENGINE.rglob("*.py")) == {
        "flink_1_6_0_spark/streaming/keyed.py",
        "flink_1_6_0_spark/datastream_api.py",
    }
    streaming = list((ENGINE / "streaming").rglob("*.py"))
    for token in ("setTimeoutTimestamp(", "setTimeoutDuration(", "hasTimedOut", "GroupState("):
        assert _uses(token, streaming) <= {"flink_1_6_0_spark/streaming/keyed.py"}, token


def test_only_the_output_form_builds_cep_rows():
    """streaming/cep.py::_output_form is the one place CEP match rows,
    timed-out partial rows and their schema are built: the batch executor
    and the stream kernel both take its ``match_rows`` / ``dead_rows``."""
    import ast

    assert _uses("_output_match(", ENGINE.rglob("*.py")) == {"flink_1_6_0_spark/streaming/cep.py"}
    tree = ast.parse((ENGINE / "streaming" / "cep.py").read_text(encoding="utf-8"))
    callers = {
        top.name
        for top in tree.body
        if isinstance(top, (ast.FunctionDef, ast.ClassDef))
        for node in ast.walk(top)
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "_output_match"
    }
    assert callers == {"_output_form"}
