from pasar_spark.cdc.lww import lww_reduce  # noqa: F401
from pasar_spark.cdc.merge import merge_batch  # noqa: F401
from pasar_spark.cdc.runner import ReplayRunner  # noqa: F401
