import sys
import types

import pytest

from perfbench.trace import Tracer, parse_size


@pytest.mark.parametrize("text, value", [
    ("2.3 MiB", 2.3 * 2**20),
    ("0.0 B", 0.0),
    ("1589.6 KiB", 1589.6 * 2**10),
    ("total (min, med, max (stageId: taskId))\n3.1 MiB (781.3 KiB, 781.3 KiB, 781.3 KiB (stage 0.0: task 1))",
     3.1 * 2**20),
])
def test_parse_size(text, value):
    assert parse_size(text) == pytest.approx(value)


def test_parse_size_rejects_non_sizes():
    with pytest.raises(ValueError):
        parse_size("12 ms")


def test_wrap_rebinds_every_alias_and_restores():
    def load(x):
        return x + 1

    home = types.ModuleType("logpump_spark._bench_fake_home")
    user = types.ModuleType("logpump_spark._bench_fake_user")
    home.load = load
    user.load_alias = load  # `from ..home import load as load_alias`
    sys.modules[home.__name__], sys.modules[user.__name__] = home, user
    try:
        tr = Tracer("t")
        seen = []
        tr.wrap(home, "load", "fake.load", lambda a, k: {"arg": a[0]}, seen.append)
        assert home.load is not load and user.load_alias is home.load
        with tr.span("outer"):
            assert user.load_alias(1) == 2
        spans = {s.name: s for s in tr.spans}
        assert spans["fake.load"].attrs == {"arg": 1}
        assert spans["fake.load"].parent == spans["outer"].span_id
        assert seen == [{"arg": 1}]
        assert tr.durations("fake.load")[0] >= 0
        tr.restore()
        assert home.load is load and user.load_alias is load
    finally:
        del sys.modules[home.__name__], sys.modules[user.__name__]
