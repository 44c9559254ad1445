"""Spcht Descriptor Format → DataFrame pipeline compiler.

The reference interprets the descriptor per record per node
(/root/reference/Spcht/Core/SpchtCore.py:498-600, row-at-a-time Python);
here the descriptor is compiled ONCE: each node renders to one Spark SQL
expression, and the record table runs through one select/explode
pipeline over typed columns, entirely JVM-side. The uuid5 is a pure
expression; the MARC parse (sources.marc) is the only Python stage.
"""

from spcht_spark.descriptor.compiler import (  # noqa: F401
    compile_descriptor,
    load_descriptor,
)
