"""Plan-inspection utilities (see :mod:`.inspect`)."""

from raster2points_spark.plans.inspect import explain_formatted  # noqa: F401
