"""Distributed operators, one submodule per family (``metrics``,
``recommend``, ``dedup``, ``similarity``, ``graph``, ...). Import the
submodule: ``from recmetrics_pyspark_spark.operators import metrics``."""
