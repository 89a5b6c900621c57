"""Property-based parity: random datasets × the full sort-flag matrix.

Hypothesis generates arbitrary keyed datasets and flag combinations;
the Spark-backed ``MapReduce`` must agree with an independent
in-process oracle implementing the documented semantics (SURVEY.md
§2a mode table + Appendix): bucket by key in encounter order, apply
the mode-table sort with Python's stable ``list.sort``, strip sort
elements, group reducer output again.

One Spark run per example is slow, so examples are capped — the
deterministic matrix in test_core_sorting.py covers the enumerable
cases; this suite hunts interaction bugs (duplicate sort keys, ties,
negative values, single-key funnels, many distinct keys).
"""

from __future__ import annotations

from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mr_python_spark import MapReduce

# (key, sort, value) triples: small domains force collisions
_TRIPLES = st.lists(
    st.tuples(
        st.integers(0, 3),      # key
        st.integers(-2, 2),     # sort element
        st.integers(-5, 5),     # value
    ),
    min_size=1,
    max_size=25,
)

_FLAGS = st.tuples(st.booleans(), st.booleans())  # (with_value, reverse)


def _oracle(data, with_value, reverse):
    """Documented semantics, implemented trivially in-process."""
    buckets: dict[int, list] = defaultdict(list)
    for key, sort_el, value in data:
        buckets[key].append((sort_el, value))
    out = {}
    for key, pairs in buckets.items():
        if with_value:
            ordered = sorted(pairs, key=lambda p: (p[0], p[1]), reverse=reverse)
        else:
            ordered = sorted(pairs, key=lambda p: p[0], reverse=reverse)
        out[key] = [v for _, v in ordered]
    return out


class _Collect(MapReduce):
    """Mapper emits 3-tuples as-is; reducer passes the sorted list."""

    def mapper(self, item):
        return item

    def reducer(self, key, values):
        yield key, values

    def output(self, mapping):
        return {k: v[0] for k, v in mapping.items()}


#: adversarial partition counts: single-partition, a prime that
#: splits keys unevenly, and full local[32] width — the documented
#: semantics (sort modes, first-wins collisions, encounter order)
#: must be invariant to how the input happens to be partitioned
_NPARTS = st.sampled_from([1, 7, 32])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(data=_TRIPLES, flags=_FLAGS, nparts=_NPARTS)
def test_three_tuple_sort_modes(spark, data, flags, nparts):
    with_value, reverse = flags

    class Task(_Collect):
        sort_map_with_value = with_value
        sort_map_reverse = reverse

    t = Task()
    t.spark = spark
    rdd = spark.sparkContext.parallelize(data, nparts)
    assert t(rdd) == _oracle(data, with_value, reverse)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(st.tuples(st.integers(0, 5), st.integers(-9, 9)), min_size=1, max_size=30),
    nparts=_NPARTS,
)
def test_two_tuple_sum_rekey(spark, data, nparts):
    """Aggregation + re-key funnel: totals must match a dict oracle,
    and first-wins collision semantics must hold for EVERY input
    partitioning (the collision winner is defined by encounter order
    of the mapper stream, never by which partition's reducer ran
    first)."""

    class Sum(MapReduce):
        def mapper(self, item):
            return item

        def reducer(self, key, values):
            return key, sum(values)

    class Funnel(Sum):
        def reducer(self, key, values):
            return "all", sum(values)

    per_key = defaultdict(int)
    for k, v in data:
        per_key[k] += v

    s = Sum()
    s.spark = spark
    assert s(spark.sparkContext.parallelize(data, nparts)) == dict(per_key)

    # re-key collision: FIRST reducer output wins (tinymr.py:226-227);
    # first = the key whose reducer output appears first in encounter
    # order of the mapper stream
    f = Funnel()
    f.spark = spark
    result = f(spark.sparkContext.parallelize(data, nparts))
    first_key = data[0][0]
    assert result == {"all": per_key[first_key]}


@settings(
    max_examples=16,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    data=_TRIPLES,
    map_three=st.booleans(),
    reduce_three=st.booleans(),
    map_flags=_FLAGS,
    reduce_flags=_FLAGS,
    rdd_input=st.booleans(),
    nparts=_NPARTS,
)
def test_spark_path_matches_pooled_path(
    spark, data, map_three, reduce_three, map_flags, reduce_flags, rdd_input, nparts
):
    """The Spark path and the in-process pooled path (``map=map``) agree
    on every sort flag of both phases, including the order of the
    returned dict.  The generator reducer re-keys several tuples per
    call onto colliding keys, so both the reducer-call order and the
    order within each call show in the result."""

    class Task(MapReduce):
        sort_map_with_value, sort_map_reverse = map_flags
        sort_reduce_with_value, sort_reduce_reverse = reduce_flags

        def mapper(self, item):
            return item if map_three else (item[0], item[2])

        def reducer(self, key, values):
            for i, v in enumerate(values):
                new_key = (key + v) % 3
                if reduce_three:
                    yield new_key, i % 2, (key, v)
                else:
                    yield new_key, (key, v)

    t = Task()
    t.spark = spark
    expected = t(data, map=map)
    got = t(spark.sparkContext.parallelize(data, nparts) if rdd_input else data)
    assert got == expected
    assert list(got) == list(expected)
