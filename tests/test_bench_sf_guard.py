"""bench.py's steady-file SF guard compares scale factors as numbers."""

from bench import _same_sf


def test_same_sf_compares_numerically():
    # the steady record stores floats; directory suffixes are text
    assert _same_sf(1.0, "1")
    assert _same_sf(0.1, "0.1")
    assert _same_sf(10.0, "10")
    assert not _same_sf(0.1, "1")
    assert not _same_sf(1.0, "0.01")
    # an unparseable suffix (testdata dir not named sf<N>) never matches
    assert not _same_sf(0.1, "/data/lineitem")
    assert not _same_sf("big", "1")
