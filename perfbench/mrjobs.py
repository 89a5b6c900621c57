"""The benchmark's own ``MapReduce`` subclasses (the ``mr_parity`` workload).

They live in an importable module, not in ``run.py``: Spark ships each
hook to its Python workers as a bound method, which pickles the instance
by class reference.
"""

from __future__ import annotations

from mr_python_spark.core import MapReduce


class WordCount(MapReduce):
    """Return-style word count (the reference's flagship job)."""

    def mapper(self, item):
        for word in item.split():
            yield word.lower(), 1

    def reducer(self, key, values):
        return key, sum(values)


class LongestLines(MapReduce):
    """3-tuple secondary sort with a generator reducer: per first word,
    the last words of its five longest lines, longest first."""

    sort_map_reverse = True

    def mapper(self, item):
        words = item.split()
        return words[0], len(words), words[-1]

    def reducer(self, key, values):
        for value in values[:5]:
            yield key, value


class CountBuckets(MapReduce):
    """Re-keying reducer: word counts re-keyed by count bucket, so many
    words collide on one output key and the first reducer output wins."""

    def mapper(self, item):
        for word in item.split():
            yield word, 1

    def reducer(self, key, values):
        return f"n{min(len(values), 50)}", key


class HotKeyDistinct(MapReduce):
    """Hot-key skew: three keys (word length mod 3), so each group holds
    about a third of all words; the reducer counts distinct words."""

    def mapper(self, item):
        for word in item.split():
            yield len(word) % 3, word

    def reducer(self, key, values):
        return key, len(set(values))


JOBS = {
    "mr_word_count": WordCount,
    "mr_secondary_sort": LongestLines,
    "mr_rekey": CountBuckets,
    "mr_hot_key": HotKeyDistinct,
}
