"""Malformed-tuple parity suite.

Ports /root/reference/tests/test_exceptions.py:6-35: 1- and 4-element
tuples from mapper or reducer raise ``ElementCountError``.
"""

import pytest

from mr_python_spark import ElementCountError, MapReduce


class _BadMapper(MapReduce):
    def __init__(self, width):
        self.width = width

    def mapper(self, item):
        yield tuple(range(self.width))

    def reducer(self, key, values):
        yield key, values


class _BadReducer(MapReduce):
    def __init__(self, width):
        self.width = width

    def mapper(self, item):
        yield item, item

    def reducer(self, key, values):
        yield tuple(range(self.width))


@pytest.mark.parametrize("width", [1, 4])
def test_mapper_element_count(spark, width):
    task = _BadMapper(width)
    task.spark = spark
    with pytest.raises(ElementCountError):
        task([1, 2, 3])


@pytest.mark.parametrize("width", [1, 4])
def test_reducer_element_count(spark, width):
    task = _BadReducer(width)
    task.spark = spark
    with pytest.raises(ElementCountError):
        task([1, 2, 3])


def test_good_widths_pass(spark):
    class TwoTuple(MapReduce):
        def mapper(self, item):
            yield item, item

        def reducer(self, key, values):
            yield key, sum(values)

        def output(self, mapping):
            return {k: v[0] for k, v in mapping.items()}

    task = TwoTuple()
    task.spark = spark
    assert task([1, 1, 2]) == {1: 2, 2: 2}


class _StrayReducer(MapReduce):
    """The first reducer call fixes 2-tuple output; a later one yields a
    3-tuple."""

    def mapper(self, item):
        yield item, item

    def reducer(self, key, values):
        if key == 1:
            yield key, sum(values)
        else:
            yield key, 0, sum(values)


def test_reducer_stray_three_tuple_is_plain_value_error(spark):
    """The reduce-phase partition loop unpacks ``(key, value)`` exactly,
    so a stray 3-tuple raises the plain ``ValueError`` of the
    reference's loop, on both paths."""
    task = _StrayReducer()
    task.spark = spark
    with pytest.raises(ValueError) as spark_err:
        task([1, 2, 3])
    assert type(spark_err.value) is ValueError
    with pytest.raises(ValueError) as pooled_err:
        task([1, 2, 3], map=map)
    assert type(pooled_err.value) is ValueError
