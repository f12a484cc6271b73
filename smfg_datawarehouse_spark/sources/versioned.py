"""The curated-table name the benchmark harness imports.

Curated tables have one commit protocol: :class:`.manifest.ManifestTable`
(immutable data files, one atomic ``CURRENT`` pointer swap per version),
which also carries ``merge``, ``diff``, time travel and vacuum.
``VersionedTable`` stays importable under its old name for
``perfbench/wl_etl.py`` and ``perfbench/layers.py``. It is the same class,
not a subclass: ``layers.py`` patches ``write`` and ``merge`` through the
class ``__dict__``, and a subclass that only inherits them would make
every traced run fail with ``KeyError``.
"""

from smfg_datawarehouse_spark.sources.manifest import ManifestTable

VersionedTable = ManifestTable
