"""One bounded-stream driver, one file-replay reader: a fast source scan
that keeps a sixth driver or reader from creeping back into the engine."""

from __future__ import annotations

import pathlib

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "flink_1_6_0_spark"

# sources/stream.py owns the driver and the parquet replay reader;
# streaming/iterate.py reads its feedback directory back as a stream and
# descriptors.py is the connect() API's reader for declared streaming tables
READ_STREAM_OWNERS = {"sources/stream.py", "streaming/iterate.py", "descriptors.py"}


def _uses(token: str) -> set[str]:
    return {
        p.relative_to(ENGINE).as_posix()
        for p in ENGINE.rglob("*.py")
        if token in p.read_text(encoding="utf-8")
    }


def test_only_the_driver_drains_a_stream():
    assert _uses("processAllAvailable(") == {"sources/stream.py"}


def test_only_the_sources_build_a_read_stream():
    assert _uses("readStream") <= READ_STREAM_OWNERS
