import threading

from perfbench.spans import Tracer, self_times, totals_by_name


def span(id_, name, start, end, parent=None, trace="t"):
    return {"id": id_, "name": name, "parent": parent, "trace": trace,
            "start": start, "end": end, "py4j": 0}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        span(1, "key", 0.0, 10.0),
        span(2, "build", 1.0, 4.0, parent=1),
        span(3, "exec", 3.0, 8.0, parent=1),   # overlaps build by 1 s
        span(4, "io.load", 1.5, 2.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - 7.0
    assert st[2] == 3.0 - 0.5
    assert st[3] == 5.0
    assert st[4] == 0.5


def test_child_time_outside_the_parent_is_not_subtracted():
    spans = [span(1, "key", 0.0, 2.0), span(2, "exec", 1.0, 5.0, parent=1)]
    assert self_times(spans)[1] == 1.0


def test_tracer_nests_counts_py4j_and_totals():
    tr = Tracer(True)
    with tr.span("key", "k1"):
        tr.on_py4j_command()
        with tr.span("operators.build"):
            tr.on_py4j_command()
            tr.on_py4j_command()
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["operators.build"]["parent"] == by_name["key"]["id"]
    assert by_name["operators.build"]["trace"] == "k1"
    assert by_name["key"]["py4j"] == 3
    assert by_name["operators.build"]["py4j"] == 2
    t = totals_by_name(tr.spans)
    assert t["key"]["count"] == 1
    assert t["key"]["self_s"] <= t["key"]["total_s"]
    assert t["absent"]["count"] == 0


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("key", "k") as rec:
        tr.on_py4j_command()
    assert rec is None and tr.spans == []


def test_spans_nest_per_thread():
    tr = Tracer(True)

    def other():
        with tr.span("refresh", "t2"):
            pass

    with tr.span("pass", "t1"):
        th = threading.Thread(target=other)
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    refresh = next(s for s in tr.spans if s["name"] == "refresh")
    assert refresh["parent"] is None and refresh["trace"] == "t2"
