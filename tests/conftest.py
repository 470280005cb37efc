from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark

    s = get_spark(app_name="gdal_spark-tests", cores=8, shuffle_partitions=8)
    yield s


def _mutants(blob, n, seed, head):
    """``n`` seeded corruptions of one valid payload: every fourth is a
    truncation, the rest overwrite 1-4 bytes (half of them inside the
    first ``head`` bytes, where the headers live)."""
    import random

    rng = random.Random(seed)
    for i in range(n):
        b = bytearray(blob)
        if i % 4 == 3:
            del b[rng.randrange(len(b)):]
        else:
            for _ in range(rng.randint(1, 4)):
                pos = (rng.randrange(head) if rng.random() < 0.5
                       else rng.randrange(len(b)))
                b[pos] = rng.randrange(256)
        yield bytes(b)


@pytest.fixture
def hostile_contract():
    """The byte parsers' hostile-input contract, over 400 seeded
    mutants of one valid payload: each decodes or raises ValueError
    (never struct.error, zlib.error or MemoryError), allocating at most
    the payload plus ``slack`` bytes; both outcomes occur."""
    import tracemalloc

    def check(decode, blob, seed, head, slack):
        outcomes = {"ok": 0, "ValueError": 0}
        for p in _mutants(blob, 400, seed, head):
            tracemalloc.start()
            try:
                decode(p)
                outcomes["ok"] += 1
            except ValueError:
                outcomes["ValueError"] += 1
            finally:
                peak = tracemalloc.get_traced_memory()[1]
                tracemalloc.stop()
            assert peak <= len(p) + slack, (len(p), peak)
        assert outcomes["ok"] and outcomes["ValueError"], outcomes

    return check
