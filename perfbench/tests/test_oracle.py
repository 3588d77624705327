import pandas as pd

from perfbench.oracle import compare


def test_compare_is_order_insensitive_and_strict_on_values():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert compare(a, a.iloc[::-1].reset_index(drop=True)) is None
    assert compare(a, a[["v", "k"]]) is None
    assert "rowcount" in compare(a, a.head(1))
    assert "value hash" in compare(a, pd.DataFrame({"k": [1, 2],
                                                    "v": [0.5, 1.25]}))
    assert "dtype" in compare(a, a.astype({"k": "float64"}))
    assert "columns" in compare(a, a.rename(columns={"v": "w"}))


def test_compare_maps_unsigned_ints_as_the_checker_does():
    a = pd.DataFrame({"k": [1, 2]})
    assert compare(a, a.astype("uint64")) is None
    assert "dtype" in compare(a.astype("uint64"), a.astype("float64"))
