"""PySpark-native cycling-quality / geospatial scoring engine."""

__version__ = "0.1.0"

from cqi_engine import _zipimport

_zipimport.install()
