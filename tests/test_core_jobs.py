"""Spark job budget of one ``MapReduce`` call.

Each call runs under a job-group id of its own, and the test counts the
jobs Spark recorded for that group.  A call on an in-memory sequence
runs exactly one job (one shuffle, one ``collect``); an RDD input adds
one ``first()`` job to read the mapper's arity.  Input that fails the
arity or emptiness check on the driver runs none.
"""

import itertools

import pytest

from mr_python_spark import ElementCountError, MapReduce

_GROUP_IDS = itertools.count()


def _jobs_of(spark, call):
    """Run ``call()`` and return how many Spark jobs it launched."""
    sc = spark.sparkContext
    gid = f"core-job-budget-{next(_GROUP_IDS)}"
    sc.setJobGroup(gid, gid)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status store is filled from the listener bus asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup(gid))


class WordCount(MapReduce):
    def mapper(self, item):
        for word in item.split():
            yield word, 1

    def reducer(self, key, values):
        return key, sum(values)


class LastWords(MapReduce):
    """3-tuple mapper output and a generator reducer."""

    sort_map_reverse = True

    def mapper(self, item):
        words = item.split()
        return words[0], len(words), words[-1]

    def reducer(self, key, values):
        for value in values:
            yield key, value


class Funnel(MapReduce):
    """Re-keying reducer: every call collides on one output key."""

    def mapper(self, item):
        for word in item.split():
            yield word, 1

    def reducer(self, key, values):
        return "all", key


class Width(MapReduce):
    def __init__(self, width):
        self.width = width

    def mapper(self, item):
        yield tuple(range(self.width))

    def reducer(self, key, values):
        yield key, values


def _task(cls, spark, *args):
    task = cls(*args)
    task.spark = spark
    return task


@pytest.mark.parametrize("cls", [WordCount, LastWords, Funnel])
def test_list_input_runs_one_job(spark, cls, lines):
    task = _task(cls, spark)
    assert _jobs_of(spark, lambda: task(lines)) == 1


@pytest.mark.parametrize("cls", [WordCount, LastWords, Funnel])
def test_rdd_input_runs_at_most_two_jobs(spark, cls, lines):
    task = _task(cls, spark)
    rdd = spark.sparkContext.parallelize(lines, 2)
    assert _jobs_of(spark, lambda: task(rdd)) <= 2


def test_empty_list_input_runs_no_job(spark):
    task = _task(WordCount, spark)

    def call():
        with pytest.raises(StopIteration):
            task([])

    assert _jobs_of(spark, call) == 0


def test_mapper_without_output_runs_no_job(spark):
    """Items that all map to nothing are empty input too."""
    task = _task(WordCount, spark)

    def call():
        with pytest.raises(StopIteration):
            task(["", " "])

    assert _jobs_of(spark, call) == 0


@pytest.mark.parametrize("width", [1, 4])
def test_bad_mapper_arity_runs_no_job(spark, width):
    task = _task(Width, spark, width)

    def call():
        with pytest.raises(ElementCountError):
            task([1, 2, 3])

    assert _jobs_of(spark, call) == 0
