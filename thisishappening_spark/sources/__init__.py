from thisishappening_spark.sources.tables import TABLES, load_table

__all__ = ["TABLES", "load_table"]
