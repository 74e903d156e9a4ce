def pytest_configure(config):
    config.addinivalue_line("markers", "spark: starts a Spark session (slow)")
