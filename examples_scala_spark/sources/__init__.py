from .tables import TABLES, load_table, sensor_readings
from .sensor import sensor_source_batch, sensor_source_stream
from .fixtures import threshold_updates, smoke_levels_batch

__all__ = [
    "TABLES",
    "load_table",
    "sensor_readings",
    "sensor_source_batch",
    "sensor_source_stream",
    "threshold_updates",
    "smoke_levels_batch",
]
