import pytest

from nipper_spark.sources.synthetic import (
    ReferenceFixturesMissing, reference_page)


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_makereport(item, call):
    """A test that needs the reference pages where they are absent
    fails (never skips) with the one-line reason, not a traceback."""
    outcome = yield
    if call.excinfo is not None and \
            call.excinfo.errisinstance(ReferenceFixturesMissing):
        outcome.get_result().longrepr = call.excinfo.getrepr(
            style="value")


def load_page(name: str) -> str:
    with open(reference_page(name), encoding="utf-8") as f:
        return f.read()


@pytest.fixture(scope="session")
def page_html() -> str:
    return load_page("page.html")


@pytest.fixture(scope="session")
def page2_html() -> str:
    return load_page("page2.html")


@pytest.fixture(scope="session")
def rustwiki_html() -> str:
    return load_page("rustwiki.html")


@pytest.fixture(scope="session")
def hacker_news_html() -> str:
    return load_page("hacker_news.html")


@pytest.fixture(scope="session")
def wisburg_html() -> str:
    return load_page("wisburg.html")
