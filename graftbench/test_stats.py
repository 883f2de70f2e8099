from stats import tail


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail(samples)
    assert pct == 90.0
    assert value == 90.0
    assert sum(1 for s in samples if s > value) == 10


def test_tail_large_sample_reaches_p99():
    samples = [float(i) for i in range(1000)]
    value, pct = tail(samples)
    assert pct == 99.0
    assert sum(1 for s in samples if s > value) == 10


def test_tail_small_sample_falls_back_to_median():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0)
    assert tail([4.0, 1.0]) == (2.5, 50.0)
    assert tail([7.0]) == (7.0, 50.0)


def test_tail_just_above_the_fallback():
    samples = [float(i) for i in range(1, 21)]  # 20 samples: p50 leaves 10
    assert tail(samples) == (10.5, 50.0)
    samples = [float(i) for i in range(1, 26)]  # 25 samples: p60
    value, pct = tail(samples)
    assert pct == 60.0 and value == 15.0
    assert sum(1 for s in samples if s > value) == 10
