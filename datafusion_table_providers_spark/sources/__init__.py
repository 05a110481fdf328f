_REGISTERED = set()


def register(spark, cls) -> None:
    """Register the Python Data Source ``cls`` with ``spark`` once per
    session: every connector's ``*_reader_df`` calls this before its read."""
    key = (id(spark), cls.name())
    if key not in _REGISTERED:
        spark.dataSource.register(cls)
        _REGISTERED.add(key)
