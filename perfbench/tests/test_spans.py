from perfbench.spans import Recorder, self_times


def test_self_time_subtracts_union_of_children():
    rec = Recorder()
    parent = rec.add("execute", 0.0, 10.0, op=0)
    rec.add("job", 1.0, 3.0, parent, 0)
    rec.add("job", 2.0, 5.0, parent, 0)  # overlaps the first: union 1..5
    rec.add("job", 8.0, 12.0, parent, 0)  # runs past the parent: clipped to 8..10
    got = self_times(rec.spans)
    assert got["execute"] == 10.0 - 4.0 - 2.0
    assert got["job"] == 2.0 + 3.0 + 4.0


def test_self_time_is_per_layer_across_operations():
    rec = Recorder()
    for op, (lo, hi) in enumerate([(0.0, 1.0), (2.0, 4.0)]):
        b = rec.add("build", lo, hi, op=op)
        rec.add("batch", lo, lo + 0.5, b, op)
    got = self_times(rec.spans)
    assert got["build"] == (1.0 - 0.5) + (2.0 - 0.5)
    assert got["batch"] == 1.0


def test_adopt_picks_innermost_span_holding_the_start():
    rec = Recorder()
    op = rec.add("op:q", 0.0, 10.0, op=7)
    build = rec.add("build", 0.0, 6.0, op, 7)
    batch = rec.add("batch", 1.0, 3.0, build, 7)
    job = rec.adopt("job", 1.5, 2.5, within=("build", "batch"))
    assert rec.spans[job].parent == batch and rec.spans[job].op == 7
    late = rec.adopt("job", 6.5, 7.0, within=("build", "batch"))
    assert rec.spans[late].parent is None and rec.spans[late].op is None
