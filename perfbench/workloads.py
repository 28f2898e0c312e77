"""The benchmark's workloads and why each exists.

Both run every step; they differ in how much work the documents share,
which decides how busy the near-dup, components and incremental
components layers are.
"""

WORKLOADS = {
    "neardup": {
        "why": "pages in 4-member near-dup clusters, 30% on one host: dedup, "
               "components and skew layers busy; the holdout joins committed "
               "components",
        "unique": False,
    },
    "unique": {
        "why": "one page per near-dup cluster: dedup finds no pairs and components "
               "stay empty, so a dedup or components change should move nothing "
               "here",
        "unique": True,
    },
}
