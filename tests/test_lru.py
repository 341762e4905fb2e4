"""lucille_spark.lru.LRUCache: the one bounded, locked LRU behind the
serving caches (tests/test_serving_caches.py drives it through them)."""

import threading

from lucille_spark.lru import LRUCache


def test_bound_and_lru_order():
    evicted = []
    c = LRUCache(2, on_evict=evicted.append)
    assert c.put("a", 1) == 1
    c.put("b", 2)
    assert c.get("a") == 1  # a is now the most recently used
    c.put("c", 3)  # evicts b, the least recently used
    assert len(c) == 2
    assert c.get("b") is None
    assert (c.get("a"), c.get("c")) == (1, 3)
    assert evicted == [2]


def test_put_keeps_first_value():
    c = LRUCache(2)
    assert c.put("a", 1) == 1
    assert c.put("a", 2) == 1  # a racing builder uses the cached value
    assert c.get("a") == 1


def test_counters():
    c = LRUCache(1)
    assert c.stats() == {"entries": 0, "hits": 0, "misses": 0, "evictions": 0}
    c.get("a")
    c.put("a", 1)
    c.get("a")
    c.get("a")
    c.put("b", 2)
    assert c.stats() == {"entries": 1, "hits": 2, "misses": 1, "evictions": 1}
    c.clear()  # clear is not an eviction
    assert c.stats() == {"entries": 0, "hits": 2, "misses": 1, "evictions": 1}


def test_on_evict_on_eviction_and_clear():
    evicted = []
    c = LRUCache(2, on_evict=evicted.append)
    for i in range(4):
        c.put(i, f"v{i}")
    assert evicted == ["v0", "v1"]
    c.clear()
    assert sorted(evicted) == ["v0", "v1", "v2", "v3"]
    assert len(c) == 0


def test_on_evict_runs_outside_the_lock():
    # the callback may use the cache itself without deadlocking
    c = LRUCache(1, on_evict=lambda v: c.stats())
    c.put("a", 1)
    c.put("b", 2)
    c.clear()


def test_threaded_put_get_stress():
    c = LRUCache(8, on_evict=lambda v: None)
    errors = []
    over = []

    def worker(i):
        try:
            for j in range(2000):
                key = (i * 7 + j) % 40
                if c.get(key) is None:
                    assert c.put(key, key + 1) == key + 1
                if len(c) > c.maxsize:
                    over.append(len(c))
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors and not over
    st = c.stats()
    assert st["entries"] == len(c) <= 8
    assert st["hits"] + st["misses"] == 16 * 2000
    assert st["misses"] - st["evictions"] >= st["entries"]
