"""Registered query plans, collected in `registry`.

Importing any module of this package imports `registry` first, and the
registry imports every query module before it orders ``QUERIES`` and
``ORACLE_SQL`` by green round. Without this, a query module imported on
its own would register its queries after that ordering, and the order
would depend on which module was imported first."""

from financedatabase_spark.plans import registry  # noqa: F401
