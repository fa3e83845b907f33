"""DataFrame operators: the KGX merge, upsert folds, connected components,
entailment and closure, graph stats, splits and training-set mixing, and
the dedup, retrieval and graph-analytics operators of the driver contract
(``__spark_entry__.py``). Import submodules directly; this package imports
nothing."""
