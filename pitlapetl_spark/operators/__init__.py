"""Operator library — each module registers queries via
:mod:`pitlapetl_spark.registry`. Importing any of them loads all of
them first, so nested imports register in contract order."""

from .. import registry

registry.load_all()
