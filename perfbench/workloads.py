"""The benchmark's workloads: which registry queries each one runs.

Each workload is a closed loop with one client: its queries run one after
another, in an order the seed shuffles once per pass.  Query names are the
registry prefixes (``q61`` for ``q61_minhash_signatures``).  A workload has
three queries so that one run, with its set-ups and its cold pass, stays
within about a minute on four cores.  Why each workload exists is recorded
beside its name in ``BENCHMARK.json``.
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    # minhash, k-means cells, PQ top-k: Python/Arrow kernels and driver collects
    "llm_corpus": ("q61", "q111", "q114"),
    # streaming window, check-constraint gate, feed offsets: eager commits
    "table_lifecycle": ("q50", "q168", "q185"),
}
