from perfbench.trace import Tracer, self_times


def test_self_time_subtracts_children():
    # (id, name, parent, op, start_ns, end_ns)
    spans = [
        (0, "op", None, 1, 0, 100),
        (1, "a", 0, 1, 10, 40),
        (2, "b", 0, 1, 30, 60),  # overlaps a: covered once
        (3, "a", None, 2, 200, 210),
    ]
    got = self_times(spans)
    assert got["op"] == (50 / 1e9, 1)
    assert got["a"] == (40 / 1e9, 2)
    assert got["b"] == (30 / 1e9, 1)


def test_tracer_records_nesting_and_wrapped_calls():
    tr = Tracer()
    tr.op_id = 7
    double = tr.wrap("double", lambda x: 2 * x)
    with tr.span("outer"):
        assert double(3) == 6
    (inner, outer) = tr.spans
    assert inner[1:4] == ("double", outer[0], 7)
    assert outer[1:4] == ("outer", None, 7)
    assert outer[4] <= inner[4] <= inner[5] <= outer[5]


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []
